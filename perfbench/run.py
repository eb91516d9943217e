#!/usr/bin/env python3
"""cms_topn_spark benchmark: four seeded workloads at local[nproc].

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N      # every workload

Untraced (``--trace 0``): set the workload up three times (session start,
input load, warm pass) and report the median set-up time; warm the last
session up for two more seconds; then run passes for ``--seconds`` and
report the median rows/s and process-tree CPU seconds per pass plus the
peak resident memory of the Python processes; then check the last pass's
outputs against an exact oracle.

Traced (``--trace 1``): the core microbench, then one traced pass of every
workload (spans around each library call, with that call's Spark SQL
metrics), reporting every per-layer metric; ``spark.*`` and
``trace.overhead_pct`` belong to the named workload.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Inputs, traces and per-run records go under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3
WARMUP_S = 2.0  # untimed passes after the set-ups (at least one): the timed session is fresh
MIN_PASSES = 3
STREAM_TRACED_PASSES = 2  # 5 probes each


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _require_library() -> None:
    if not os.path.isfile(os.path.join(ROOT, "cms_topn_spark", "__init__.py")):
        log(f"cms_topn_spark not found next to {HERE}; run from a repository checkout")
        sys.exit(2)
    sys.path.insert(0, ROOT)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _confine_scratch() -> None:
    """Keep Spark's and Python's scratch files inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")


def start_spark():
    from cms_topn_spark.spark_session import get_spark

    tmp = os.path.join(WORK, "tmp")
    return get_spark(
        "perfbench",
        cpus=_cpus(),
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.sql.streaming.forceDeleteTempCheckpointLocation": "true",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM (and with it
    every Python worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _env_sample() -> dict:
    """Box state beside each pass: recorded, never used to gate."""
    import bench

    return {"loadavg_1m": os.getloadavg()[0], "cpu_probe_s": bench.cpu_probe()}


def _metric(name: str, value: float) -> dict:
    from metrics import END_TO_END, PER_LAYER

    unit = (END_TO_END.get(name) or PER_LAYER[name])[0]
    return {"value": float(value), "unit": unit}


class Tally:
    """Attempted/failed accounting: library calls plus output checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list = []

    def add_checks(self, outcomes) -> None:
        for o in outcomes:
            self.attempted += 1
            if not o.ok:
                self.failed += 1
                self.failures.append({"check": o.name, "detail": o.failures})
                log(f"CHECK FAILED {o.name}: {o.failures}")

    def call_failed(self, what: str) -> None:
        self.failed += 1
        self.failures.append({"call": what, "detail": traceback.format_exc(limit=3)})
        log(f"CALL FAILED {what}:\n{traceback.format_exc()}")


def _pass(w, tr, tally: Tally):
    """One pass; (wall s, cpu s, rows) or None if a library call raised."""
    from telemetry import tree_cpu_seconds

    c0, t0 = tree_cpu_seconds(), time.perf_counter()
    try:
        rows = w.run_pass(tr)
    except Exception:  # a failing call is a measured outcome, not a crash
        tally.call_failed(f"{w.name} pass")
        return None
    return time.perf_counter() - t0, tree_cpu_seconds() - c0, rows


def run_untraced(w, seconds: float, tally: Tally) -> tuple[dict, dict]:
    from telemetry import RssSampler, median

    w.prepare()
    spark, setups = None, []
    for _ in range(SETUPS):
        if spark is not None:
            w.close()
            spark.stop()
        t0 = time.perf_counter()
        spark = start_spark()
        w.load(spark)
        if _pass(w, None, tally) is None:
            raise RuntimeError("warm pass failed")
        setups.append(time.perf_counter() - t0)
    t_warm = time.perf_counter() + WARMUP_S
    _pass(w, None, tally)
    while time.perf_counter() < t_warm:
        _pass(w, None, tally)
    w.start_window()
    passes, env = [], []
    rss = RssSampler().start()
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
        env.append(_env_sample())
        p = _pass(w, None, tally)
        if p is not None:
            passes.append(p)
        elif len(env) > 4 * MIN_PASSES and not passes:
            break
    peak = rss.stop()
    if not passes:
        raise RuntimeError("every timed pass failed")
    tally.attempted += w.calls
    tally.add_checks(w.check())
    extra = w.latencies()
    w.close()
    stop_spark(spark)
    metrics = {
        "setup_s": _metric("setup_s", median(setups)),
        "rows_per_s": _metric("rows_per_s", median([r / wall for wall, _, r in passes])),
        "cpu_s": _metric("cpu_s", median([c for _, c, _ in passes])),
        "peak_rss_mb": _metric("peak_rss_mb", rss.peak_other / 2**20),
    }
    record = {
        "setups_s": setups,
        "passes": [{"wall_s": a, "cpu_s": b, "rows": c} for a, b, c in passes],
        "env": env,
        "peak_rss_tree_mb": peak / 2**20,
        "peak_rss_java_mb": rss.peak_java / 2**20,
        "extra": extra,
    }
    return metrics, record


def run_traced(name: str, seed: int, tally: Tally) -> tuple[dict, dict]:
    import microbench
    from metrics import GATED, PER_LAYER
    from telemetry import SqlMetrics, Tracer, median, op_sum, stage_sum
    from workloads import WORKLOADS

    values = {}
    t0 = time.perf_counter()
    values.update(microbench.core_metrics(seed))
    values.update(microbench.flagship_metrics(seed))
    record = {"microbench_s": time.perf_counter() - t0}

    spark = start_spark()
    tracer = Tracer(SqlMetrics(spark))
    order = [name] + [n for n in WORKLOADS if n != name]
    for wname in order:
        w = WORKLOADS[wname](seed, WORK)
        w.prepare()
        w.load(spark)
        if _pass(w, None, tally) is None:
            raise RuntimeError(f"{wname} warm pass failed")
        plain = _pass(w, None, tally) if wname == name else None
        w.start_window()
        roots = []
        for _ in range(STREAM_TRACED_PASSES if wname == "stream_ingest_probe" else 1):
            tracer.new_trace()
            with tracer.span(f"pass.{wname}") as root:
                w.run_pass(tracer)
            roots.append(root)
        values.update(w.layer_metrics(tracer))
        if wname == name:
            ex = [e for r in roots for e in tracer.executions(r)]
            k = len(roots)
            values["spark.python_init_s"] = op_sum(ex, "", "time to initialize Python workers") / k
            values["spark.spill_bytes"] = stage_sum(ex, "spill_bytes") / k
            values["spark.peak_exec_memory"] = stage_sum(ex, "peak_exec_memory")
            values["spark.tasks"] = stage_sum(ex, "tasks") / k
            traced_wall = median([r["end"] - r["start"] for r in roots])
            values["trace.overhead_pct"] = (traced_wall / plain[0] - 1.0) * 100.0
            record["plain_pass_s"], record["traced_pass_s"] = plain[0], traced_wall
        # gated workloads are checked in their own runs, the others here
        if wname == name or wname not in GATED:
            tally.attempted += w.calls
            tally.add_checks(w.check())
        w.close()
    stop_spark(spark)
    trace_path = os.path.join(WORK, "traces", f"{name}-seed{seed}.json")
    tracer.dump(trace_path)
    record["trace_file"] = trace_path
    missing = set(PER_LAYER) - set(values)
    if missing:
        raise RuntimeError(f"traced run produced no value for {sorted(missing)}")
    return {k: _metric(k, values[k]) for k in PER_LAYER}, record


def run_all(args) -> int:
    """Every workload in its own process; prints each result and a summary."""
    from metrics import ALL

    results = {}
    for name in ALL:
        cmd = [
            sys.executable, os.path.abspath(__file__), "--workload", name,
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace),
        ]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            log(f"{name}: exit code {proc.returncode}")
            return proc.returncode
        results[name] = json.loads(proc.stdout.strip().splitlines()[-1])
    for name, res in results.items():
        log(f"{name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for m, v in res["metrics"].items():
            log(f"  {m:40s} {v['value']:>16.4f} {v['unit']}")
    print(json.dumps(results))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    _require_library()
    _confine_scratch()
    if args.workload == "all":
        return run_all(args)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)} or all")
        return 2
    tally = Tally()
    t0 = time.perf_counter()
    if args.trace:
        metrics, record = run_traced(args.workload, args.seed, tally)
    else:
        w = WORKLOADS[args.workload](args.seed, WORK)
        metrics, record = run_untraced(w, args.seconds, tally)
    record.update(
        workload=args.workload, seed=args.seed, seconds=args.seconds, trace=args.trace,
        nproc=_cpus(), run_wall_s=time.perf_counter() - t0, failures=tally.failures,
        failed_frac=tally.failed / tally.attempted, metrics=metrics,
    )
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    log(json.dumps({k: v for k, v in record.items() if k in ("extra", "failed_frac", "run_wall_s")}))
    print(json.dumps({
        "correct": tally.failed == 0, "attempted": tally.attempted,
        "failed": tally.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
