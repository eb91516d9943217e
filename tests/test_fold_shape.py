"""Fold-shape gate: every global sketch fold is one job of at most P tasks.

P is the session's ``defaultParallelism``. The input is cut to at most P
tasks with no shuffle, each task runs one Python fold, and the driver folds
the collected task states (``operators/build._fold_collect``). No partition
count is read, so the shape is the same at 1, 16 or 100 input partitions.

Each case runs under its own job group and is read back through
``statusTracker``. Under AQE every shuffle map stage runs as a job of its
own, so a case runs one job per shuffle its caller asked for (a salted
repartition) plus the fold job, and the fold job's one executed stage has
at most P tasks. A probe of the input's partition count, a second shuffle
or a fold per input partition each break one of these counts.
"""

from __future__ import annotations

import itertools

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from cms_topn_spark.core import CmsTopn
from cms_topn_spark.functions.sketch_api import cms_topn_union_agg
from cms_topn_spark.operators.build import build_partials, sketch_agg, sketch_agg_parquet

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """[(job id, [tasks of each stage the job executed])] of one call."""
    sc = spark.sparkContext
    group = f"fold-shape-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    out = []
    for jid in sorted(st.getJobIdsForGroup(group)):
        stages = [st.getStageInfo(s) for s in sorted(st.getJobInfo(jid).stageIds)]
        # a skipped stage (its shuffle output came from an earlier job)
        # completes no task
        out.append((jid, [s.numTasks for s in stages if s and s.numCompletedTasks]))
    return out


def _linear():
    return CmsTopn(5, update="linear")


@pytest.fixture(scope="module")
def ids16(spark):
    # 16 input partitions, no shuffle
    return spark.range(0, 4000, 1, 16)


@pytest.fixture(scope="module")
def ten_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("ten_files")
    for i in range(10):
        pq.write_table(
            pa.table({"k": pa.array([f"item{j % 7}" for j in range(i * 100, i * 100 + 100)])}),
            str(d / f"part-{i:02d}.parquet"),
        )
    return str(d)


CASES = {
    # name -> (call, shuffles the caller asked for)
    "sketch_agg": (lambda spark, df, path: sketch_agg(df, _linear), 0),
    "sketch_agg_salt32": (lambda spark, df, path: sketch_agg(df, _linear, salt_partitions=32), 1),
    "sketch_agg_salt100": (
        lambda spark, df, path: sketch_agg(df, _linear, salt_partitions=100), 1,
    ),
    "cms_topn_union_agg_16_states": (
        lambda spark, df, path: cms_topn_union_agg(build_partials(df, _linear)), 0,
    ),
    "sketch_agg_parquet_10_files": (
        lambda spark, df, path: sketch_agg_parquet(spark, path, ["k"], _linear), 0,
    ),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_one_fold_job_of_at_most_p_tasks(name, spark, ids16, ten_files):
    call, shuffles = CASES[name]
    p = spark.sparkContext.defaultParallelism
    jobs = _jobs(spark, lambda: call(spark, ids16, ten_files))
    assert len(jobs) == 1 + shuffles, f"{name}: jobs {jobs}"
    *maps, (_, fold) = jobs
    assert all(len(stages) == 1 for _, stages in maps), f"{name}: jobs {jobs}"
    assert len(fold) == 1 and fold[0] <= p, (
        f"{name}: the fold job ran stages of {fold} tasks, want one stage of "
        f"at most {p} (jobs {jobs})"
    )
