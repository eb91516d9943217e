"""Self-tests of the benchmark's own code (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import metrics  # noqa: E402
from telemetry import Tracer, median, parse_metric, percentile  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ names


def test_metric_names_fit_the_name_pattern():
    b = _benchmark_json()
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [w["name"] for w in b["workloads"]]
    names += list(metrics.END_TO_END) + list(metrics.PER_LAYER)
    bad = [n for n in names if not NAME.match(n)]
    assert not bad, bad


def test_benchmark_json_matches_the_catalogue():
    from workloads import WORKLOADS

    b = _benchmark_json()
    assert [w["name"] for w in b["workloads"]] == list(metrics.GATED)
    for w in b["workloads"]:
        assert w["why"] == WORKLOADS[w["name"]].why
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]}
    assert e2e == metrics.END_TO_END
    layer = {m["name"]: (m["unit"], m["better"]) for m in b["per_layer"]}
    assert layer == {k: v[:2] for k, v in metrics.PER_LAYER.items()}
    assert e2e["setup_s"][2] == max(v[2] for v in e2e.values())
    for _, _, (moves, workloads) in metrics.PER_LAYER.values():
        assert set(moves.split(",")) <= set(metrics.END_TO_END)
        assert set(workloads) <= set(metrics.ALL)


# ------------------------------------------------------------- statistics


def test_percentile_reports_its_sample_count():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == (50.0, 100)
    assert percentile(vals, 90) == (90.0, 100)
    assert percentile([7.0], 90) == (7.0, 1)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5


def test_parse_metric():
    assert parse_metric("total (min, med, max (stageId: taskId))\n7.4 s (1.5 s, 2.1 s, 2.2 s (stage 4.0: task 14))") == 7.4
    assert parse_metric("64.2 MiB") == pytest.approx(64.2 * 2**20)
    assert parse_metric("200,000") == 200_000
    assert parse_metric("0 ms") == 0.0
    with pytest.raises(ValueError):
        parse_metric("12 parsecs")


def test_self_time_subtracts_overlapping_children():
    tr = Tracer(None)
    with tr.span("root") as root:
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    a, b = tr.find("a")[0], tr.find("b")[0]
    a["start"], a["end"], b["start"], b["end"] = 1.0, 3.0, 2.0, 4.0
    root["start"], root["end"] = 0.0, 10.0
    assert tr.self_time(root) == pytest.approx(7.0)
    assert a["parent"] == root["id"] and root["parent"] is None


# ----------------------------------------------- checks reject perturbation


def _cms_case():
    from cms_topn_spark.core import CmsTopn

    rng = np.random.default_rng(5)
    items = np.minimum(rng.zipf(1.3, 20_000), 5_000).astype(np.int64)
    sk = CmsTopn(10, 0.01, 0.99, update="linear")
    sk.add_batch(items.tolist())
    top = sk.topn_list()
    counts = {int(v): int(c) for v, c in zip(*np.unique(items, return_counts=True))}
    est = np.array([f for _, f in top], dtype=np.int64)
    exact = np.array([counts[i] for i, _ in top], dtype=np.int64)
    return est, exact, len(items)


def test_allowed_misses_follows_the_binomial_tail():
    assert checks.allowed_misses(0, 0.01) == 0
    assert checks.allowed_misses(1000, 0.0) == 0
    assert 50 < checks.allowed_misses(5000, 0.01) < 100  # mean 50, sd ~7
    assert checks.allowed_misses(10, 0.01) == 4


def test_frequency_bound_accepts_the_sketch_and_rejects_perturbations():
    est, exact, n = _cms_case()
    assert checks.frequency_bound("cms", est, exact, 0.01, n, 0.01).ok
    under = est.copy()
    under[0] = exact[0] - 1  # a CMS never underestimates: one is enough
    assert not checks.frequency_bound("cms", under, exact, 0.01, n, 0.01).ok
    over = exact + int(0.01 * n) + 1  # every item beyond f + eps*N
    assert not checks.frequency_bound("cms", over, exact, 0.01, n, 0.01).ok
    assert not checks.frequency_bound("cms", [], [], 0.01, n, 0.01).ok


def test_hll_bound_rejects_a_perturbed_estimate():
    from cms_topn_spark.core import HyperLogLog

    hll = HyperLogLog(14)
    hll.add_batch(list(range(50_000)))
    est = hll.estimate()
    assert checks.hll_bound("hll", est, 50_000, 14).ok
    assert not checks.hll_bound("hll", est * 1.05, 50_000, 14).ok


def test_kll_rank_bound_rejects_a_perturbed_quantile():
    from cms_topn_spark.core import KllSketch

    rng = np.random.default_rng(6)
    vals = rng.lognormal(3.0, 1.0, 100_000)
    sk = KllSketch(200)
    sk.add_batch(vals)
    qs = np.linspace(0.01, 0.99, 99)
    est = np.array(sk.quantiles(qs))
    srt = np.sort(vals)

    def ranks(e):
        return np.searchsorted(srt, e, "left"), np.searchsorted(srt, e, "right")

    n = np.full(len(qs), len(vals))
    assert checks.kll_rank_bound("kll", qs, *ranks(est), n, 200).ok
    shifted = np.quantile(vals, np.minimum(qs + 0.05, 1.0))  # 5% rank error everywhere
    assert not checks.kll_rank_bound("kll", qs, *ranks(shifted), n, 200).ok


def test_same_pairs_rejects_missing_and_spurious_pairs():
    exact = [(1, 2), (3, 9), (4, 5)]
    assert checks.same_pairs("pairs", list(exact), exact).ok
    assert not checks.same_pairs("pairs", exact[:2], exact).ok
    assert not checks.same_pairs("pairs", exact + [(6, 7)], exact).ok
    assert not checks.same_pairs("pairs", [], []).ok


def test_disjoint_ids_rejects_overlap():
    assert checks.disjoint_ids("ids", [1, 2], [3, 4]).ok
    assert not checks.disjoint_ids("ids", [1, 2, 3], [3, 4]).ok


def test_same_bytes_rejects_a_perturbed_union():
    import functools

    from cms_topn_spark.core import CmsTopn, merge_serialized

    states = []
    for i in range(8):
        sk = CmsTopn(5, 0.01, 0.99, update="linear")
        sk.add_batch(list(range(5)), counts=[100 - 10 * j + i for j in range(5)])
        states.append(sk.to_bytes())
    fold = functools.reduce(merge_serialized, states, None)
    tree = merge_serialized(
        functools.reduce(merge_serialized, states[:4]), functools.reduce(merge_serialized, states[4:])
    )
    assert checks.same_bytes("union", tree, fold).ok
    flipped = bytearray(tree)
    flipped[-1] ^= 1
    assert not checks.same_bytes("union", bytes(flipped), fold).ok
    assert not checks.same_bytes("union", None, fold).ok
