"""Seeded benchmark inputs, generated without Spark and cached as parquet.

Every input is a pure function of (seed, size): the same seed gives the
same files. Files are cached under ``.perfbench/inputs/<key>`` where the key
hashes the seed, the size parameters and the source of the generator (and
of the library helper it uses), so editing a generator invalidates its
cache. The library only ever sees the written parquet.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _zipf_draw(rng: np.random.Generator, n: int, size: int, s: float) -> np.ndarray:
    """Ranks 0..n-1 with P(rank r) ∝ 1/(r+1)^s."""
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), s)
    cdf = np.cumsum(w / w.sum())
    return np.minimum(np.searchsorted(cdf, rng.random(size)), n - 1)


def _write_files(table: pa.Table, out_dir: str, files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
        )


# ------------------------------------------------------------------ webpages


def gen_webpages(out: str, seed: int, docs: int, files: int) -> dict:
    """Common-Crawl-style pages from the library's id-pure row generator;
    the seed picks the id range (ids stay below 2^43 so the generator's
    id * 2^20 token counters cannot wrap)."""
    from cms_topn_spark.sources.webpages import _columns_for_ids

    offset = (seed % 100_000) * 10_000_000
    cols = _columns_for_ids(np.arange(offset, offset + docs, dtype=np.int64))
    _write_files(pa.table(cols), os.path.join(out, "pages"), files)
    return {"docs": docs}


# ---------------------------------------------------------- grouped + states


def gen_state_merge(out: str, seed: int, rows: int, groups: int, items: int, states: int) -> dict:
    """(g long, item long, v double) with Zipf group sizes and Zipf items,
    plus a table of serialized CMS top-20 states (id int, state binary).

    Every state holds the same 20 heavy items, with counts 40 apart, over a
    light uniform tail. That is the stable-candidate regime in which
    ``CmsTopn.merge`` documents byte-identical results for any merge tree,
    so the union check can demand byte equality."""
    from cms_topn_spark.core import CmsTopn

    rng = _rng(seed, 2)
    perm = rng.permutation(groups).astype(np.int64)
    g = perm[_zipf_draw(rng, groups, rows, 1.05)]
    item = _zipf_draw(rng, items, rows, 1.2).astype(np.int64)
    v = np.round(rng.lognormal(3.0, 1.0, rows), 3)
    tbl = pa.table({"g": g, "item": item, "v": v})
    _write_files(tbl, os.path.join(out, "rows"), 4)

    heavy = np.arange(20, dtype=np.int64)
    blobs = []
    for _ in range(states):
        sk = CmsTopn(20, 0.001, 0.99, update="linear")
        tail = rng.integers(20, 50_020, 2_000).astype(np.int64)
        sk.add_batch(
            np.concatenate((heavy, tail)).tolist(),
            counts=np.concatenate((1000 - 40 * heavy + int(rng.integers(0, 7)), np.ones(len(tail), np.int64))),
        )
        blobs.append(sk.to_bytes())
    st = pa.table({"id": pa.array(np.arange(states), pa.int32()), "state": pa.array(blobs, pa.binary())})
    _write_files(st, os.path.join(out, "states"), 4)
    return {"rows": rows, "groups": int(len(np.unique(g))), "states": states}


# --------------------------------------------------------------- near dups


def _texts(vocab: pa.Array, words: list[np.ndarray]) -> pa.Array:
    import pyarrow.compute as pc

    lens = np.array([len(w) for w in words], dtype=np.int32)
    offs = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    flat = pa.DictionaryArray.from_arrays(
        pa.array(np.concatenate(words).astype(np.int32)), vocab
    ).dictionary_decode()
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offs), flat), " ")


def _edit(rng: np.random.Generator, words: np.ndarray, n_vocab: int) -> np.ndarray:
    """A near-copy: 1-3 substituted words (Jaccard of 8-grams straddles
    0.8, so the threshold itself is exercised)."""
    w = words.copy()
    k = int(rng.integers(1, 4))
    w[rng.choice(len(w), k, replace=False)] = rng.integers(0, n_vocab, k)
    return w


def gen_near_dup(out: str, seed: int, docs: int, batch: int) -> dict:
    """Index corpus (ids 0..docs-1) and a new batch (ids docs..docs+batch-1,
    disjoint from the index) over a uniform random vocabulary, with planted
    near-duplicate families inside the corpus, batch-vs-index and
    inside the batch."""
    rng = _rng(seed, 3)
    n_vocab = 20_000
    wl = rng.integers(3, 10, n_vocab)
    letters = rng.integers(97, 123, int(wl.sum())).astype(np.uint8).tobytes().decode()
    offs = np.concatenate(([0], np.cumsum(wl)))
    vocab = pa.array([letters[offs[i] : offs[i + 1]] for i in range(n_vocab)], pa.string())

    def fresh() -> np.ndarray:
        return rng.integers(0, n_vocab, int(rng.integers(30, 60)))

    corpus: list[np.ndarray] = []
    for _ in range(docs):
        if corpus and rng.random() < 0.1:
            corpus.append(_edit(rng, corpus[int(rng.integers(len(corpus)))], n_vocab))
        else:
            corpus.append(fresh())
    new: list[np.ndarray] = []
    for _ in range(batch):
        r = rng.random()
        if r < 0.3:
            new.append(_edit(rng, corpus[int(rng.integers(docs))], n_vocab))
        elif r < 0.4 and new:
            new.append(_edit(rng, new[int(rng.integers(len(new)))], n_vocab))
        else:
            new.append(fresh())
    c = pa.table({"doc_id": pa.array(np.arange(docs), pa.int64()), "text": _texts(vocab, corpus)})
    b = pa.table(
        {"doc_id": pa.array(np.arange(docs, docs + batch), pa.int64()), "text": _texts(vocab, new)}
    )
    _write_files(c, os.path.join(out, "corpus"), 4)
    _write_files(b, os.path.join(out, "batch"), 1)
    return {"docs": docs, "batch": batch}


# ------------------------------------------------------------------- stream


def gen_stream(out: str, seed: int, files: int, rows_per_file: int, items: int) -> dict:
    """``files`` parquet files of (item long), Zipf items; one file is one
    micro-batch of the closed-loop stream."""
    d = os.path.join(out, "files")
    os.makedirs(d, exist_ok=True)
    for i in range(files):
        rng = _rng(seed, 1000 + i)
        item = _zipf_draw(rng, items, rows_per_file, 1.1).astype(np.int64)
        pq.write_table(pa.table({"item": item}), os.path.join(d, f"batch-{i:05d}.parquet"))
    return {"files": files, "rows_per_file": rows_per_file}


GENERATORS = {
    "webpages": gen_webpages,
    "state_merge": gen_state_merge,
    "near_dup": gen_near_dup,
    "stream": gen_stream,
}


def _source_key(name: str) -> str:
    h = hashlib.sha256()
    for fn in (GENERATORS[name], _zipf_draw, _write_files, _texts, _edit):
        h.update(inspect.getsource(fn).encode())
    if name == "webpages":
        from cms_topn_spark.sources import webpages

        h.update(inspect.getsource(webpages).encode())
    return h.hexdigest()[:12]


def materialize(name: str, seed: int, **size) -> tuple[str, dict]:
    """Generate (or reuse) one input; returns (directory, metadata)."""
    key = hashlib.sha256(
        json.dumps([name, seed, sorted(size.items()), _source_key(name)]).encode()
    ).hexdigest()[:16]
    d = os.path.join(WORK, "inputs", f"{name}-{seed}-{key}")
    meta_path = os.path.join(d, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            return d, json.load(f)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    meta = GENERATORS[name](tmp, seed, **size)
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    _prune(name, keep=d)
    return d, meta


def _prune(name: str, keep: str, max_kept: int = 3) -> None:
    """Bound the cache: drop all but the newest few inputs of one kind."""
    base = os.path.join(WORK, "inputs")
    dirs = [
        os.path.join(base, e) for e in os.listdir(base)
        if e.startswith(name + "-") and not e.endswith(".tmp")
    ]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for old in dirs[max_kept:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)
