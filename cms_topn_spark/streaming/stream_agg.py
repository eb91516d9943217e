"""Structured Streaming sketch aggregation.

Every sketch stream is the batch fold run once per micro-batch — correct
under Spark's unordered micro-batch parallelism because sketch merges
commute and associate (SURVEY.md §2.3 protocol contract). Two shapes:

1. **Folds into persisted states** (`sketch_stream_agg`,
   `windowed_sketch_stream`): every micro-batch builds per-task partials
   exactly like the batch path (``build_partials``, or grouped stage 1 by
   window), folds them on the driver with ``fold_states``, and folds that
   delta into the persisted state under ``state_dir`` (one global state, or
   one state per event-time window). Batch-id high-water-marking makes the
   fold idempotent, so Spark's checkpoint/replay semantics (foreachBatch is
   at-least-once) yield exactly-once state: a replayed batch id is skipped.
   Restart = reopen the same checkpoint + state dir and keep going; the
   state file IS the sketch (read it with ``read_stream_state`` /
   ``read_window_states``).

2. **Keyed stateful operators** (`keyed_sketch_stream`,
   `keyed_quantile_stream`): one sketch per key in Spark-managed state via
   ``applyInPandasWithState`` (update mode, no timeout), emitting the key's
   current readout on every update.

Item-sketch streams take the same item types as batch builds (the
item-type table in ``operators/build.py``); a value column outside it
raises ``TypeError`` when the stream is defined, before ``start()``, so a
bad column never reaches a checkpoint.
"""

from __future__ import annotations

import os
import struct
from typing import Callable, Iterator

import pandas as pd
import pyarrow as pa

from ..core.base import ItemSketch, SketchError, fold_states, sketch_from_bytes
from ..core.encoding import TAG_ARROW_TYPES
from ..operators.build import SPARK_ITEM_TAGS, build_partials, ingest_array, spark_item_tag
from ..spark_session import local_frame

STATE_FILE = "state.bin"

# Every persisted state is one self-describing frame written with a single
# atomic rename: | magic "STR1" | version u32 | batch_id i64 | sketch bytes |.
# The batch id travels INSIDE the same file as the state it reflects, so there
# is no window in which the state is folded but the commit record isn't (the
# torn-commit failure mode of a separate marker file).
_FRAME = struct.Struct("<4sIq")
_FRAME_MAGIC = b"STR1"


def _write_frame(path: str, batch_id: int, state: bytes | None) -> None:
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "wb") as f:
        f.write(_FRAME.pack(_FRAME_MAGIC, 1, batch_id))
        if state:
            f.write(state)
        f.flush()
        os.fsync(f.fileno())  # frame durable BEFORE it becomes visible
    os.replace(tmp, path)  # the commit point: one atomic rename
    # fsync the directory so the rename itself survives power loss — without
    # this the commit is atomic only against process crashes, not OS crashes
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def _read_frame(path: str) -> tuple[int, bytes | None]:
    """(batch_id, state bytes) — (-1, None) if the file doesn't exist."""
    if not os.path.exists(path):
        return -1, None
    with open(path, "rb") as f:
        raw = f.read()
    if len(raw) < _FRAME.size:
        raise SketchError("corrupt stream state frame (short header)")
    magic, _version, batch_id = _FRAME.unpack_from(raw, 0)
    if magic != _FRAME_MAGIC:
        if raw[:4] == b"SKS1":  # a bare serialized sketch = pre-frame layout
            raise SketchError(
                "stream state file uses the pre-frame layout (raw sketch "
                "bytes); this version embeds the batch id in the state frame "
                "— delete or migrate the state directory to restart"
            )
        raise SketchError("corrupt stream state frame (bad magic)")
    payload = raw[_FRAME.size :]
    return batch_id, payload if payload else None


def _read_committed(state_dir: str) -> int:
    """Highest batch id folded into the global state (from the state frame)."""
    batch_id, _ = _read_frame(os.path.join(state_dir, STATE_FILE))
    return batch_id


def read_stream_state(state_dir: str):
    """Deserialize the current global sketch (None before the first batch)."""
    _, payload = _read_frame(os.path.join(state_dir, STATE_FILE))
    return sketch_from_bytes(payload) if payload is not None else None


def sketch_stream_agg(
    stream_df,
    factory: Callable[[], object],
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Start a streaming query folding the stream into one mergeable state."""
    os.makedirs(state_dir, exist_ok=True)

    def process_batch(batch_df, batch_id: int) -> None:
        p = os.path.join(state_dir, STATE_FILE)
        committed, prev = _read_frame(p)
        if batch_id <= committed:
            return  # replayed batch after restart — already folded
        # a direct collect, not sketch_agg: every micro-batch is a new plan,
        # so sketch_agg's partition count would cost a plan→RDD conversion
        # per batch
        delta = fold_states(r["state"] for r in build_partials(batch_df, factory).collect())
        if delta is not None:  # an empty batch leaves the state as it is
            # committed ⊕ delta: the merge order every commit has used
            prev = (delta if prev is None else sketch_from_bytes(prev).merge(delta)).to_bytes()
        # state + batch id land in ONE rename — fold and commit are atomic
        _write_frame(p, batch_id, prev)

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sketch_stream(
    stream_df,
    ts_col: str,
    value_col: str,
    state_dir: str,
    checkpoint_dir: str,
    factory: Callable[[], object],
    window: str = "1 hour",
    watermark: str = "2 hours",
):
    """Event-time windowed sketch build: one mergeable state PER WINDOW.

    Each micro-batch runs grouped stage 1 keyed by window start (one
    ``mapInArrow``, Arrow-typed columns, no row shuffle), so the driver
    collects one state per (task, window-in-task) and folds them per window
    with ``fold_states`` — the same per-task shape ``sketch_stream_agg``
    collects. NULL rules are the aggregate's: NULL values are skipped, a row
    with a NULL event time has no window and is dropped, and a window whose
    values are all NULL gets no state. Value columns take the batch item
    types (native ints, exact above 2^53); for an ``ItemSketch`` any other
    type raises ``TypeError`` here, before start.

    Late rows (within the watermark) fold into their window's existing state
    — merges are commutative, so late data needs no reprocessing. State files
    are ``state_dir/w=<window_start_unix>.bin``, each a frame carrying the
    batch id that last folded into it: on a replay after a crash that folded
    only SOME windows of a batch, the already-at-this-batch windows are
    skipped per-file, so no window ever double-counts (exactly-once without a
    cross-file transaction). Read any window with :func:`read_window_states`."""
    import pyspark.sql.functions as F

    from ..operators.grouped import _partial_states

    if isinstance(factory(), ItemSketch):
        spark_item_tag(dict(stream_df.dtypes)[value_col], "windowed_sketch_stream")
    os.makedirs(state_dir, exist_ok=True)

    def process_batch(batch_df, batch_id: int) -> None:
        # a NULL event time gives a NULL _w, which stage 1 drops like any
        # NULL group key
        win = batch_df.withColumn("_w", F.window(F.col(ts_col), window).start.cast("long"))
        partials, _ = _partial_states(win, "_w", value_col, factory)
        by_window: dict[int, list] = {}
        for r in partials.collect():
            by_window.setdefault(r["_w"], []).append(r["state"])
        _fold_windows(
            state_dir,
            batch_id,
            [(w, fold_states(by_window[w]).to_bytes()) for w in sorted(by_window)],
        )

    return (
        stream_df.withWatermark(ts_col, watermark)
        .writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _fold_windows(state_dir: str, batch_id: int, states: list[tuple[int, bytes]]) -> None:
    """Fold per-window batch deltas into their persisted frames, idempotently:
    a window whose frame already carries this batch id is skipped, so a crash
    replay that re-delivers the batch can never double-count any window."""
    for w, delta in states:
        path = os.path.join(state_dir, f"w={w}.bin")
        folded_at, prev = _read_frame(path)
        if folded_at >= batch_id:
            continue  # this window already folded this batch (crash replay)
        _write_frame(path, batch_id, fold_states([prev, delta]).to_bytes())


def _typed_arrow(vals: pd.Series, spark_dtype: str) -> pa.Array:
    """pandas → Arrow preserving the column's DECLARED Spark type.

    pandas delivers nullable int columns as float64; re-casting to the
    declared type keeps streaming-built sketches hash-compatible with
    batch-built sketches over the same data (a string-ified or float-ified
    item encodes — and therefore hashes — differently). ``spark_dtype`` is
    a type of the item-type table; callers check that when the stream is
    defined."""
    target = TAG_ARROW_TYPES[SPARK_ITEM_TAGS[spark_dtype]]
    arr = pa.Array.from_pandas(vals)
    if arr.type != target:
        if pa.types.is_integer(target) and pa.types.is_floating(arr.type):
            # a float64-ified int column loses bits above 2^53 BEFORE we see
            # it (pandas converts at the Arrow boundary when NULLs exist) —
            # values that large would silently count toward the wrong key
            import numpy as np

            if np.any(np.abs(arr.to_numpy(zero_copy_only=False)) > 2.0**53):
                raise ValueError(
                    f"{spark_dtype} values above 2^53 arrived as float64 "
                    "(NULL-bearing batch) and cannot be recovered exactly; "
                    "filter NULLs upstream or cast the column to string"
                )
        arr = arr.cast(target)
    return arr


def read_window_states(state_dir: str) -> dict[int, object]:
    """window_start_unix → deserialized sketch."""
    out = {}
    for f in os.listdir(state_dir):
        if f.startswith("w=") and f.endswith(".bin"):
            _, payload = _read_frame(os.path.join(state_dir, f))
            if payload is not None:
                out[int(f[2:-4])] = sketch_from_bytes(payload)
    return out


def _keyed_stream(stream_df, key_col: str, factory, ingest, readout, out_schema: str):
    """The one ``applyInPandasWithState`` driver behind the keyed streams:
    per key, load the serialized sketch from Spark-managed state (or start
    one with ``factory()``), ``ingest(sketch, pdf)`` every pandas chunk of
    the micro-batch, save the state, and emit ``key`` plus the columns of
    ``readout(sketch)`` (column → one-element list) under
    ``"key string, " + out_schema``. Update mode, no timeout."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
        sk = sketch_from_bytes(bytes(state.get[0])) if state.exists else factory()
        for pdf in pdfs:
            ingest(sk, pdf)
        state.update((sk.to_bytes(),))
        # str() key: the output schema declares `key string`, and a bigint
        # key would fail the pandas→Arrow conversion inside
        # applyInPandasWithState
        yield pd.DataFrame({"key": [str(key[0])], **readout(sk)})

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key string, " + out_schema,
        stateStructType="state binary",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def keyed_sketch_stream(
    stream_df,
    key_col: str,
    value_col: str,
    n: int = 5,
    eps: float = 0.001,
    conf: float = 0.99,
):
    """Per-key CMS top-n as a custom stateful streaming operator.

    Output per update: (key, total, top_item, top_freq). State: the serialized
    CmsTopn, built with the value column's NATIVE type — so it merges and
    probes hash-compatibly with batch-built sketches over the same column
    (top_item is rendered as string for the fixed output schema only). The
    value column takes the batch item types; any other raises ``TypeError``
    here, before start. NULL values are skipped; pandas delivers a
    NULL-bearing int column as float64, which is cast back exactly or raises
    ``ValueError`` above 2^53."""
    from ..core.cms_topn import CmsTopn

    value_type = dict(stream_df.dtypes)[value_col]
    spark_item_tag(value_type, "keyed_sketch_stream")

    def ingest(sk, pdf: pd.DataFrame) -> None:
        vals = pdf[value_col].dropna()
        if len(vals):
            ingest_array(sk, _typed_arrow(vals, value_type))

    def readout(sk) -> dict:
        top = sk.topn_list()
        return {
            "total": [sk.total],
            "top_item": [str(top[0][0]) if top else None],
            "top_freq": [top[0][1] if top else None],
        }

    return _keyed_stream(
        stream_df, key_col, lambda: CmsTopn(n, eps, conf, update="linear"), ingest,
        readout, "total long, top_item string, top_freq long",
    )


def keyed_quantile_stream(
    stream_df,
    key_col: str,
    value_col: str,
    qs: tuple = (0.25, 0.5, 0.75),
    q_names: tuple = ("q25", "q50", "q75"),
    k: int = 200,
):
    """Per-key streaming quantiles as a custom stateful operator — the
    NUMERIC-sketch companion to :func:`keyed_sketch_stream`: Spark manages
    one serialized KLL sketch per key through ``applyInPandasWithState``
    (update mode, no timeout), each micro-batch folds its rows into the
    key's state shuffle-free-within-the-batch, and every update emits the
    current (key, n, quantiles). ``n`` is monotone per key, so the final
    state's readout is the emission with the largest ``n`` (read it with
    ``max_by(q, n)`` over the sink). In the exact regime (``k`` ≥ any
    per-key count) the final quantiles equal ``quantile_cont`` bitwise —
    same interpolation the batch grouped form gates on; beyond it the KLL
    rank-error bound applies per key. NULL values arrive as NaN and are
    dropped inside ``add_batch``, mirroring the aggregate's NULL skip."""
    from ..core.kll import KllSketch

    if len(qs) != len(q_names):
        raise ValueError("qs and q_names must have the same length")
    qs = tuple(float(q) for q in qs)

    def ingest(sk, pdf: pd.DataFrame) -> None:
        vals = pdf[value_col].to_numpy(dtype="float64", na_value=float("nan"))
        if len(vals):
            sk.add_batch(vals)

    def readout(sk) -> dict:
        return {"n": [sk.n], **{name: [v] for name, v in zip(q_names, sk.quantiles(qs))}}

    return _keyed_stream(
        stream_df, key_col, lambda: KllSketch(k), ingest, readout,
        "n long, " + ", ".join(f"{n} double" for n in q_names),
    )


def near_dup_stream(
    stream_df,
    index_root: str,
    checkpoint_dir: str,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_available_now: bool = True,
):
    """Streaming NEAR-dup dedup against a growing MinHash index — the
    foreachBatch composition of the batch lifecycle (round 7): each
    micro-batch of (doc_id, text) rows

    1. computes its features ONCE (band keys + gram sets, batch-sized),
    2. emits near-dup pairs against the index built from all COMMITTED
       prior batches (the pair pipeline of operators/dedup.py
       incremental_near_dup — the prior corpus text is never re-read), and
    3. appends its own features, so the next batch dedups against
       prior ∪ this.

    The accumulated pair set equals ALL near-dup pairs of the whole corpus
    regardless of how documents were batched: the later side of every pair
    finds the earlier side in the index (or in its own batch), and no pair
    can emit twice — the earlier batch could not see the later document.
    That batching-invariance is what the gate's exact all-corpus oracle
    checks.

    Replay safety (foreachBatch is at-least-once) and multi-run growth: a
    batch's pairs and features land in a subdirectory named by (checkpoint
    lineage, batch id) with overwrite semantics, and the committed marker
    holds the MANIFEST of finished subdirectories (atomic-rename frame, as
    the fold shapes). A replayed batch (same lineage, same id) is already
    in the manifest and skips; a crashed attempt's partial subdirectory is
    not in the manifest, so it stays invisible and is overwritten on
    replay. A NEW stream run feeding the same index (fresh checkpoint over
    new files — the growing-corpus lifecycle) gets a different lineage
    key, so its restarted batch ids cannot collide with or be mistaken for
    the earlier run's — new data is never silently skipped. At scale the
    manifest becomes a table format's snapshot log (Iceberg); same idea.

    Ids must be unique across ALL runs feeding one index (the crawl
    invariant) — re-feeding already-indexed documents self-pairs are
    excluded by id, but their features would double in the index."""
    import hashlib

    from ..operators.dedup import _near_dup_pairs, minhash_doc_features

    feat_root = os.path.join(index_root, "features")
    pairs_root = os.path.join(index_root, "pairs")
    os.makedirs(feat_root, exist_ok=True)
    os.makedirs(pairs_root, exist_ok=True)
    marker = os.path.join(index_root, "committed.frame")
    run_key = hashlib.md5(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:10]

    def process_batch(batch_df, batch_id: int) -> None:
        sub = f"{run_key}-b{batch_id}"
        committed = _read_manifest(marker)
        if sub in committed:
            return  # replayed after restart — pairs/features already final
        spark = batch_df.sparkSession
        feats = minhash_doc_features(
            batch_df.select(id_col, text_col), id_col, text_col
        ).localCheckpoint(eager=True)
        prior = [
            os.path.join(feat_root, d)
            for d in sorted(os.listdir(feat_root))
            if d in committed
        ]
        idx = spark.read.parquet(*prior) if prior else None
        pairs = _near_dup_pairs(feats, threshold, idx)
        pairs.write.mode("overwrite").parquet(os.path.join(pairs_root, sub))
        feats.write.mode("overwrite").parquet(os.path.join(feat_root, sub))
        # the commit point: manifest gains the subdir in one atomic rename
        _write_manifest(marker, batch_id, committed + [sub])

    writer = stream_df.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_manifest(marker: str, batch_id: int, subdirs: list[str]) -> None:
    _write_frame(marker, batch_id, "\n".join(sorted(set(subdirs))).encode())


def _read_manifest(marker: str) -> list[str]:
    """Committed subdirectory names ((lineage, batch)-keyed) — [] if no
    stream has committed on this root yet."""
    _, payload = _read_frame(marker)
    if not payload:
        return []
    return [s for s in payload.decode().split("\n") if s]


def read_near_dup_pairs(spark, index_root: str):
    """All pairs emitted by :func:`near_dup_stream` so far (committed
    batches only)."""
    pairs_root = os.path.join(index_root, "pairs")
    committed = set(_read_manifest(os.path.join(index_root, "committed.frame")))
    try:
        names = sorted(os.listdir(pairs_root))
    except OSError:
        names = []  # no stream has run on this root yet — empty, not a crash
    dirs = [os.path.join(pairs_root, d) for d in names if d in committed]
    if not dirs:
        return local_frame(spark, [], "a_id long, b_id long")
    # distinct: a re-fed document (id-uniqueness contract violation, or a
    # deliberate reprocess) may re-emit a pair into a later run's subdir
    return spark.read.parquet(*dirs).distinct()
