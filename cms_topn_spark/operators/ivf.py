"""IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
scale path, complementing the hyperplane-LSH path in similarity.py.

Shape (the one that survives 100 TB):

- **train**: deterministic k-means over the embedding column. Seeds are the
  vectors with the smallest xxhash64(vec_id) (no RNG state), then a few
  Lloyd iterations, each ONE scan: every partition GEMMs its batch against
  the broadcast centroid matrix and emits per-centroid (sum, count) partials
  — k×dim floats per partition, merged on the driver exactly like sketch
  states. No row ever shuffles.
- **assign**: one more scan → (vec_id, cell). At scale this column is what
  you'd bucket/partition the corpus by.
- **search**: queries probe their ``n_probe`` nearest cells; candidates come
  from an equi-join on cell id (shuffle keyed by cell, proportional to the
  probed fraction of the corpus); exact cosine re-rank inside candidates
  only. Recall is controlled by n_probe/n_cells — n_probe == n_cells
  degenerates to brute force.

Everything is deterministic: same input ⇒ same centroids ⇒ same output.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..spark_session import local_frame
from .similarity import (
    _batch_embedding_matrix,
    _query_vectors,
    _score_candidates_topk,
)


def kmeans_fit(
    df: DataFrame,
    n_cells: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Deterministic Lloyd k-means; returns the (n_cells, dim) centroid matrix.

    Each iteration is one scan emitting per-partition per-centroid partial
    sums — the same partial/merge pattern as the sketch builds, so the only
    data motion is partials (n_cells × dim floats per partition)."""
    seed_rows = (
        df.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    cents = np.array([r[vec_col] for r in seed_rows], dtype=np.float64)
    if len(cents) < n_cells:
        raise ValueError(f"need at least {n_cells} vectors to fit {n_cells} cells")
    spark = df.sparkSession

    schema = "cell int, cnt long, vsum binary"
    for _ in range(iters):
        b_cents = spark.sparkContext.broadcast(cents)

        def partials(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            c = b_cents.value
            sums = np.zeros_like(c)
            counts = np.zeros(len(c), dtype=np.int64)
            for rb in batches:
                mat = _batch_embedding_matrix(rb.column(1))
                if mat.shape[0] == 0:
                    # mapInArrow can deliver empty record batches (filtered /
                    # empty-file inputs); reduceat on a (0, d) array raises
                    continue
                # nearest centroid by squared L2 (argmin over GEMM expansion)
                d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ c.T)
                d2 += (c * c).sum(1)[None, :]
                cell = np.argmin(d2, axis=1)
                # sorted segmented row-sum (reduceat along axis 0) instead of
                # np.add.at's unbuffered row scatter — the per-partition sum
                # is the k-means hot loop at corpus scale
                order = np.argsort(cell, kind="stable")
                cs = cell[order]
                starts = np.flatnonzero(np.concatenate(([True], cs[1:] != cs[:-1])))
                seg = np.add.reduceat(mat[order], starts, axis=0)
                sums[cs[starts]] += seg
                counts += np.bincount(cell, minlength=len(c))
            nz = np.nonzero(counts)[0]
            yield pa.RecordBatch.from_pydict(
                {
                    "cell": pa.array(nz.astype(np.int32), pa.int32()),
                    "cnt": pa.array(counts[nz], pa.int64()),
                    "vsum": pa.array([sums[i].tobytes() for i in nz], pa.binary()),
                }
            )

        rows = df.select(id_col, vec_col).mapInArrow(partials, schema).collect()
        sums = np.zeros_like(cents)
        counts = np.zeros(len(cents), dtype=np.int64)
        for r in rows:
            sums[r["cell"]] += np.frombuffer(bytes(r["vsum"]), dtype=np.float64)
            counts[r["cell"]] += r["cnt"]
        moved = counts > 0  # empty cells keep their previous centroid
        cents = cents.copy()
        cents[moved] = sums[moved] / counts[moved][:, None]
        b_cents.destroy()
    return cents


def ivf_assign(
    df: DataFrame,
    cents: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell): nearest-centroid assignment, one scan, no shuffle."""
    spark = df.sparkSession
    b_cents = spark.sparkContext.broadcast(cents)

    def assign(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        c = b_cents.value
        cc = (c * c).sum(1)
        for rb in batches:
            ids = rb.column(0).to_numpy()
            mat = _batch_embedding_matrix(rb.column(1))
            d2 = (mat * mat).sum(1)[:, None] - 2.0 * (mat @ c.T) + cc[None, :]
            yield pa.RecordBatch.from_pydict(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "cell": pa.array(np.argmin(d2, axis=1).astype(np.int32), pa.int32()),
                }
            )

    return df.select(id_col, vec_col).mapInArrow(assign, "vec_id long, cell int")


def _ivf_search(
    df: DataFrame,
    cents: np.ndarray,
    assigned: DataFrame,
    query_ids: list[int],
    k: int,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The query stage shared by :func:`ivf_topk` (refit-per-call) and
    :func:`ivf_query` (build-once-load-query): probe cells → candidate join
    → exact cosine re-rank. Identical code path is what makes the two
    lifecycles answer identically (parity pytest-pinned). ``n_probe`` above
    the cell count clamps to full probe HERE, so refit and loaded forms
    agree on out-of-range arguments too."""
    n_probe = min(int(n_probe), int(cents.shape[0]))
    spark = df.sparkSession
    empty_schema = "query_id long, neighbor_id long, rank int"
    q_ids, q_mat = _query_vectors(df, query_ids, id_col, vec_col)
    if not len(q_ids):
        return local_frame(spark, [], empty_schema)
    d2 = (q_mat * q_mat).sum(1)[:, None] - 2.0 * (q_mat @ cents.T)
    d2 += (cents * cents).sum(1)[None, :]
    probe_cells = np.argsort(d2, axis=1, kind="stable")[:, :n_probe]
    q_probes = local_frame(
        spark,
        [
            (int(q), int(c))
            for q, cells in zip(q_ids, probe_cells)
            for c in cells
        ],
        "query_id long, cell int",
    )
    # no .distinct(): each vector lives in exactly ONE cell and a query's
    # probe cells are distinct, so the join cannot emit duplicate pairs
    # the probed-cell set is known driver-side, so push it into the
    # assignments scan as an IN filter before the join: semantically a
    # no-op (the equi-join keeps exactly those cells), but parquet can now
    # skip non-probed cells' row groups at the source — the plan-visible
    # pruning evidence for the index stage (full-probe lists every cell
    # and prunes nothing, by construction)
    probed = sorted({int(c) for cells in probe_cells for c in cells})
    cand = (
        F.broadcast(q_probes)
        .join(assigned.where(F.col("cell").isin(probed)), "cell")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # exact re-rank: vectorized scoring kernel + batch-local top-k pruning,
    # bit-identical scores to the old per-row HOF cosine (see
    # similarity._score_candidates_topk); only candidate embeddings are
    # ever fetched — the unfiltered corpus is still never broadcast
    return _score_candidates_topk(cand, df, q_ids, q_mat, k, id_col, vec_col)


def ivf_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN top-k, refit-per-call form: probe the n_probe nearest cells
    per query, exact cosine re-rank inside candidates. Output (query_id,
    neighbor_id, rank) — the same schema as brute_force_topk/lsh_topk;
    n_probe == n_cells makes the candidate set the whole corpus (recall 1
    by construction).

    This form refits k-means and reassigns the corpus on EVERY call — fine
    for one-shot jobs, wrong for a serving pipeline. At 100 TB build the
    index once with :func:`ivf_build` (a persisted parquet stage, the same
    build-once-serve-many shape as the reference's COPY round-trip of a
    serialized sketch, output/copy.source:9-17) and answer query batches via
    :func:`ivf_query`; both paths share :func:`_ivf_search`, so answers are
    identical by construction."""
    cents = kmeans_fit(df, n_cells, iters, id_col, vec_col)
    assigned = ivf_assign(df, cents, id_col, vec_col)
    return _ivf_search(df, cents, assigned, query_ids, k, n_probe, id_col, vec_col)


class IvfIndex:
    """Handle over a built (or loaded) IVF index stage: the centroid matrix
    plus the corpus cell-assignment DataFrame. Embeddings themselves stay in
    the corpus table — the index holds only the coarse-quantizer state, so
    its size is O(n_cells·dim + n_vectors·12 bytes) regardless of dim."""

    def __init__(self, centroids: np.ndarray, assignments: DataFrame, iters: int):
        self.centroids = centroids
        self.assignments = assignments
        self.n_cells = int(centroids.shape[0])
        self.iters = int(iters)


def ivf_build(
    df: DataFrame,
    index_dir: str,
    n_cells: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Build the IVF index ONCE and persist it as a parquet stage:

    - ``centroids.parquet`` (cell, centroid array<double>) — tiny;
    - ``assignments.parquet`` (vec_id, cell) — one 12-byte row per vector,
      written with the corpus's own partitioning (no shuffle: assignment is
      a map-only scan). At scale this column is what you bucket/partition
      the corpus by;
    - ``meta.parquet`` — (n_cells, dim, iters), the fit configuration.

    float64 centroids round-trip bit-exactly through parquet doubles, so a
    loaded index answers queries byte-identically to the in-memory one
    (parity pytest-pinned). Returns the in-memory handle so build-then-query
    needs no immediate re-read."""
    spark = df.sparkSession
    cents = kmeans_fit(df, n_cells, iters, id_col, vec_col)
    local_frame(
        spark,
        [(i, [float(x) for x in cents[i]]) for i in range(len(cents))],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/centroids.parquet")
    assigned = ivf_assign(df, cents, id_col, vec_col)
    assigned.write.mode("overwrite").parquet(f"{index_dir}/assignments.parquet")
    local_frame(
        spark,
        [(int(n_cells), int(cents.shape[1]), int(iters))],
        "n_cells int, dim int, iters int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{index_dir}/meta.parquet")
    return IvfIndex(cents, spark.read.parquet(f"{index_dir}/assignments.parquet"), iters)


def ivf_load(spark, index_dir: str) -> IvfIndex:
    """Load a persisted IVF index stage. The centroid matrix is rebuilt in
    cell order (rows may arrive in any order from parquet); assignments stay
    a lazy DataFrame — at scale they are the big half of the index and are
    only ever consumed through the cell equi-join."""
    meta = spark.read.parquet(f"{index_dir}/meta.parquet").collect()[0]
    cents = np.zeros((meta.n_cells, meta.dim), dtype=np.float64)
    seen = np.zeros(meta.n_cells, dtype=bool)
    for r in spark.read.parquet(f"{index_dir}/centroids.parquet").collect():
        cents[r["cell"]] = r["centroid"]
        seen[r["cell"]] = True
    if not seen.all():
        raise ValueError(
            f"IVF index at {index_dir} is missing centroids for cells "
            f"{np.flatnonzero(~seen).tolist()} — truncated or partial write"
        )
    return IvfIndex(cents, spark.read.parquet(f"{index_dir}/assignments.parquet"), meta.iters)


def ivf_query(
    index: IvfIndex,
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Answer a query batch through a built/loaded index — no refit, no
    reassignment; the only corpus access is fetching the query vectors and
    the candidate embeddings by id. Same output schema and (via
    :func:`_ivf_search`, including its full-probe clamp of an oversized
    ``n_probe``) same answers as :func:`ivf_topk` at equal configuration."""
    return _ivf_search(
        df, index.centroids, index.assignments, query_ids, k, n_probe, id_col, vec_col
    )
