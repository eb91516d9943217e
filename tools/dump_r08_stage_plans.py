"""Write plans/r08/<query>_stage_{before,after}.txt — stage-level
.explain("formatted") for the two round-8-touched operators whose gate
queries eagerly localCheckpoint their result (so the gate-level plan files
show only the post-checkpoint tail): minhash_lsh_pairs and
incremental_near_dup. Both operators expose ``materialize=False`` exactly
for this (the docstrings call it the plan-inspection form); the dumped plan
is the one the eager path executes before the checkpoint truncates it.

For incremental_near_dup the dump builds a real bucketed index stage in a
temp dir and dedups a SMALL batch against it (doc_id % 50 == 0, so the
batch's bucket set is a strict subset of the 256 key buckets and the
partition-pruned read engages — the growing-corpus regime the layout is
for). On the round-start tree (no ``index_dir`` parameter yet) the same
call without the argument dumps the unbucketed full-stage read for
comparison.

Usage (same convention as dump_r08_plans.py):
  python tools/dump_r08_stage_plans.py /tmp/r8start before /root/repo/plans/r08
  python tools/dump_r08_stage_plans.py /root/repo  after  /root/repo/plans/r08
"""

from __future__ import annotations

import inspect
import io
import os
import shutil
import sys
import tempfile
from contextlib import redirect_stdout

def main() -> None:
    root, suffix, out_dir = sys.argv[1], sys.argv[2], sys.argv[3]
    sys.path.insert(0, root)
    os.makedirs(out_dir, exist_ok=True)
    from cms_topn_spark.operators import dedup
    from cms_topn_spark.spark_session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark(f"stage-plans-r08-{suffix}", cpus=8)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")

    def dump(name: str, df, note: str) -> None:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(f"# {name} — stage-level .explain('formatted'), {suffix} "
                    f"round 8 (sf0.01 input; plan shape is sf-independent)\n")
            f.write(f"# {note}\n")
            f.write(buf.getvalue())
        print(f"{name}_{suffix}.txt written", file=sys.stderr)

    dump(
        "minhash_lsh_pairs_stage",
        dedup.minhash_lsh_pairs(docs, 0.8, materialize=False),
        "materialize=False form: the exact plan the gate executes before "
        "its eager localCheckpoint truncates the visible tail.",
    )

    tmp = tempfile.mkdtemp(prefix="r8_stage_idx_")
    try:
        idx_dir = os.path.join(tmp, "minhash_idx")
        idx = dedup.minhash_index_build(docs.where(F.col("doc_id") % 3 != 0), idx_dir)
        batch = docs.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 50 == 0))
        kwargs = {}
        if "index_dir" in inspect.signature(dedup.incremental_near_dup).parameters:
            kwargs["index_dir"] = idx_dir
        dump(
            "incremental_near_dup_stage",
            dedup.incremental_near_dup(batch, idx, 0.8, materialize=False, **kwargs),
            "materialize=False form, small batch (doc_id % 150 == 0, disjoint "
            "from the index) vs a persisted index of doc_id % 3 != 0 — the "
            "growing-corpus regime "
            "where the batch's bucket set is a strict subset, so the "
            "bucketed bands.parquet read engages when the tree supports it.",
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
