"""Smoke test of tools/dump_plans.py's stage forms.

A stage form calls an operator that materializes its result and writes the
executed plan of that SQL execution, read back from Spark's SQL status
store. The test guards that reader on the shared session (which it must
not stop).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from dump_plans import explain  # noqa: E402


def test_explain_writes_executed_near_dup_stage_plans(spark, sf001_dir, tmp_path):
    names = ["minhash_lsh_pairs_stage", "incremental_near_dup_stage"]
    explain(spark, sf001_dir, str(tmp_path), "t", names)
    for name in names:
        plan = (tmp_path / f"{name}_t.txt").read_text()
        assert "isFinalPlan=true" in plan, plan[:2000]
        assert "Arguments: verify(" in plan, plan[:2000]  # the verify MapInArrow
        assert re.search(r"\w+Join ", plan.split("\n\n", 1)[0]), plan[:2000]
    assert not spark.sparkContext._jsc.sc().isStopped()
