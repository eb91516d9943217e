"""Composed training-data curation pipeline.

The end-to-end shape a pretraining corpus pass takes, assembled from this
library's operators into ONE declarative Catalyst plan:

    scan → per-row features (language ID, alpha-ratio quality, dup-token
    repetition — all pure expressions, whole-stage codegen) → gates →
    exact dedup (groupBy on content, keep min doc_id) → survivors

At 100 TB this executes as scan → fused filter/map → one uniform-key
exchange (the dedup groupBy) — the optimal shape for a full-corpus pass: the
quality/language/repetition gates are applied BEFORE the shuffle, so only
surviving documents move, and the shuffle key (the content itself, or its
hash for wide rows) is uniformly distributed.

The whole pipeline is SQL-expressible, so the composition — not just the
individual operators — sits under the DuckDB value-hash oracle
(:func:`curate_sql`).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import lang_pred_from_hit_cols, lang_pred_sql, stage_stopword_hits

# defaults chosen against the synthetic corpus distributions: alpha ratio
# splits the quality range (observed 0.79-0.85), dup-token splits the
# repetition range (median ≈ 0.55)
MIN_ALPHA_FX = 800_000
MAX_DUP_TOKEN_FX = 550_000
LANGS = ("en",)


def curate(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_alpha_fx: int = MIN_ALPHA_FX,
    max_dup_token_fx: int = MAX_DUP_TOKEN_FX,
    langs: tuple[str, ...] = LANGS,
) -> DataFrame:
    """Gate + dedup a document table; returns surviving documents as
    (doc_id, pred_lang, n_tokens, copies).

    Feature semantics are IDENTICAL to the standalone operators
    (textops.quality_score's alpha_ratio_fx, textops.repetition_stats'
    dup_token_fx, textops.lang_id's pred_lang, dedup.exact_dedup's
    min-id-per-content rule), so the composed output is exactly what
    chaining those operators would produce — without their per-operator
    scans: one pass computes every gate.

    The token array and stopword hit counts are STAGED as columns before
    the feature projection (no-CSE-through-lambdas: inlined, each split ran
    up to 3× per row on the full-corpus hot path). A single-split input is
    round-robin-spread first so the regex/tokenize feature pass runs at
    cluster parallelism — no-op at scale (build.spread_small_input); every
    downstream step (gates are per-row, dedup is a groupBy min) is
    partitioning-independent."""
    from .build import spread_small_input

    staged = stage_stopword_hits(
        spread_small_input(df.select(id_col, text_col)), text_col
    ).withColumn(
        "_tk", F.expr(f"split({text_col}, ' ')")
    )
    feats = staged.select(
        F.col(id_col),
        F.col(text_col),
        lang_pred_from_hit_cols().alias("pred_lang"),
        # greatest(·,1) guards the empty document: Spark would yield NULL
        # (silently un-gateable) and DuckDB 0/0 — the guard makes both
        # engines score an empty text 0 and gate it out deterministically
        F.expr(
            f"floor(1000000 * length(regexp_replace({text_col}, '[^A-Za-z]', ''))"
            f" / greatest(length({text_col}), 1))"
        )
        .cast("long")
        .alias("alpha_ratio_fx"),
        F.expr("floor(1000000 * (1.0 - size(array_distinct(_tk)) / size(_tk)))")
        .cast("long")
        .alias("dup_token_fx"),
        F.expr("size(_tk)").cast("long").alias("n_tokens"),
    )
    # Stage the feature frame (digest included, text dropped) BEFORE the
    # gates: Catalyst pushes the gate predicates below the projection all
    # the way to the scan, re-inlining every split/filter lambda into the
    # Filter (~20 split(text) evaluations per row, measured — the same
    # no-CSE-through-lambdas hazard the _hits staging exists for) and
    # running them below the spread, on one core. The staged frame is
    # ~100 B/doc (digest + scalars), the gates become cheap column
    # references, and every split/regex runs exactly once per row at
    # cluster parallelism. At petabyte scale this stage goes to a parquet
    # intermediate instead, like the tfidf tf stage.
    feats = feats.select(
        F.md5(F.col(text_col)).alias("_k"), F.col(id_col), "pred_lang",
        "alpha_ratio_fx", "dup_token_fx", "n_tokens",
    ).localCheckpoint(eager=True)
    kept = feats.where(
        (F.col("alpha_ratio_fx") >= min_alpha_fx)
        & (F.col("dup_token_fx") <= max_dup_token_fx)
        & F.col("pred_lang").isin(list(langs))
    )
    # dedup on md5(content) so the one exchange moves digests + per-doc
    # features, never the document text (see dedup.exact_dedup)
    return (
        kept.groupBy("_k")
        .agg(
            F.min(id_col).alias(id_col),
            F.min("pred_lang").alias("pred_lang"),
            F.min("n_tokens").alias("n_tokens"),
            F.count("*").cast("long").alias("copies"),
        )
        .select(id_col, "pred_lang", "n_tokens", "copies")
    )


def _sample_hash_expr(key_col: str, salt: int) -> F.Column:
    """60-bit uniform hash of a key, identical in Spark and DuckDB: the first
    15 hex chars of md5(key || '|' || salt) parsed as an integer. md5 is the
    one hash both engines expose with identical semantics, so the sampling
    DECISION — not just the rate — is reproducible cross-engine."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col(key_col).cast("string"), F.lit(str(salt)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def _sample_hash_sql(key_col: str, salt: int) -> str:
    return (
        f"('0x' || substring(md5({key_col}::VARCHAR || '|' || '{salt}'), 1, 15))::UBIGINT"
    )


def stratified_sample(
    df: DataFrame,
    fractions: dict,
    stratum_col: str,
    key_col: str = "doc_id",
    salt: int = 0,
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. keep 100 % of a rare language
    and 10 % of the dominant one — the standard corpus-rebalancing move).
    A row is kept when its key hash falls below fraction·2⁶⁰ for its
    stratum: reproducible across runs and engines (no RNG state to seed or
    ship), uniform regardless of key skew, and a PURE MAP — no shuffle, no
    sort. One stratum at one fraction is plain deterministic sampling.
    Strata not named in ``fractions`` are dropped."""
    if not fractions:
        raise ValueError("stratified_sample requires at least one stratum fraction")
    thr = None
    for stratum, frac in fractions.items():
        cond = F.col(stratum_col) == F.lit(stratum)
        val = F.lit(int(frac * (1 << 60)))
        thr = F.when(cond, val) if thr is None else thr.when(cond, val)
    thr = thr.otherwise(F.lit(0))
    return df.where(_sample_hash_expr(key_col, salt) < thr)


def stratified_sample_sql(
    table: str, fractions: dict, stratum_col: str, key_col: str = "doc_id", salt: int = 0
) -> str:
    cases = " ".join(
        f"WHEN {stratum_col} = '{s}' THEN {int(f * (1 << 60))}"
        for s, f in fractions.items()
    )
    return (
        f"SELECT * FROM {table} WHERE {_sample_hash_sql(key_col, salt)}"
        f" < (CASE {cases} ELSE 0 END)"
    )


def curate_sql(
    table: str = "documents",
    min_alpha_fx: int = MIN_ALPHA_FX,
    max_dup_token_fx: int = MAX_DUP_TOKEN_FX,
    langs: tuple[str, ...] = LANGS,
) -> str:
    tk = "string_split(text, ' ')"
    lang_list = ", ".join(f"'{v}'" for v in langs)
    return f"""
    WITH feats AS (
      SELECT doc_id, text,
             {lang_pred_sql("text")} AS pred_lang,
             floor(1000000 * len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / greatest(len(text), 1))::BIGINT AS alpha_ratio_fx,
             floor(1000000 * (1.0 - len(list_distinct({tk}))::DOUBLE / len({tk})))::BIGINT AS dup_token_fx,
             len({tk})::BIGINT AS n_tokens
      FROM {table}
    ),
    kept AS (
      SELECT * FROM feats
      WHERE alpha_ratio_fx >= {min_alpha_fx}
        AND dup_token_fx <= {max_dup_token_fx}
        AND pred_lang IN ({lang_list})
    )
    SELECT min(doc_id) AS doc_id, min(pred_lang) AS pred_lang,
           min(n_tokens) AS n_tokens, count(*)::BIGINT AS copies
    FROM kept GROUP BY text
    """


def pack_documents(
    df: DataFrame,
    max_tokens: int,
    n_buckets: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for LLM training batches: assign documents to
    contiguous ≤``max_tokens`` packs.

    Packing is inherently a sequential fold (each pack's boundary depends
    on every doc before it), so a single global greedy pass cannot be
    distributed. The scale form fixes the order FIRST and shards it:
    documents hash into ``n_buckets`` independent streams (bucket =
    id mod n_buckets), each bucket is packed greedily in id order by one
    task, and buckets run in parallel. At 100 TB, n_buckets ≈ a few × the
    cluster's cores bounds each task's stream; pack quality is unchanged
    because the greedy rule only wastes at most one document's tokens per
    pack boundary regardless of sharding.

    Greedy rule (deterministic, matched exactly by the recursive-CTE
    oracle): a pack closes when adding the next document would exceed
    ``max_tokens``; a document larger than ``max_tokens`` sits alone in
    its own pack. Token count = whitespace tokens, the repo-wide
    ``len(split(text, ' '))`` convention.

    Returns (id_col, bucket, pack_id, n_tokens) — pack_id is per-bucket,
    dense from 0 in id order.

    NULL id/text rows are excluded up front: a NULL id has no bucket or
    position in the id order, and a NULL text has no token count (Spark's
    legacy ``size(split(NULL))`` yields -1 where DuckDB yields NULL — left
    in, the two engines would silently diverge). The greedy fold's input is
    therefore well-defined; the SQL oracle applies the identical filter.
    """
    if max_tokens <= 0:
        raise ValueError("pack_documents: max_tokens must be positive")
    if n_buckets <= 0:
        raise ValueError("pack_documents: n_buckets must be positive")

    df = df.where(F.col(id_col).isNotNull() & F.col(text_col).isNotNull())
    toks = df.select(
        F.col(id_col).cast("long").alias(id_col),
        F.pmod(F.col(id_col), F.lit(int(n_buckets))).cast("long").alias("bucket"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
    )

    cap = int(max_tokens)

    def pack(tbl: pa.Table) -> pa.Table:
        tbl = tbl.sort_by(id_col)
        pack_ids: list = []
        pid, acc = 0, 0
        for n in tbl.column("n_tokens").to_pylist():
            if pack_ids and acc + n > cap:
                pid += 1
                acc = n
            else:
                acc += n
            pack_ids.append(pid)
        return tbl.append_column("pack_id", pa.array(pack_ids, pa.int64()))

    schema = f"{id_col} long, bucket long, pack_id long, n_tokens long"
    return toks.groupBy("bucket").applyInArrow(pack, schema)


def pack_documents_sql(
    max_tokens: int,
    n_buckets: int,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """The recursive-CTE oracle: identical greedy rule, row by row."""
    return f"""
    WITH RECURSIVE toks AS (
      -- pmod-equivalent: SQL % keeps the sign of the dividend, Spark's
      -- F.pmod is always non-negative; double-mod matches pmod for any id
      SELECT {id_col},
             (({id_col} % {int(n_buckets)}) + {int(n_buckets)})
               % {int(n_buckets)} AS bucket,
             len(string_split({text_col}, ' '))::BIGINT AS n_tokens
      FROM {table}
      -- mirror of the engine's NULL exclusion: NULL ids have no
      -- bucket/order, NULL texts no token count (engines disagree on
      -- len(split(NULL)): Spark legacy -1 vs DuckDB NULL)
      WHERE {id_col} IS NOT NULL AND {text_col} IS NOT NULL
    ),
    d AS (
      SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY {id_col}) AS rn
      FROM toks
    ),
    packed AS (
      SELECT bucket, rn, {id_col}, n_tokens, 0::BIGINT AS pack_id,
             n_tokens AS acc
      FROM d WHERE rn = 1
      UNION ALL
      SELECT d.bucket, d.rn, d.{id_col}, d.n_tokens,
             CASE WHEN p.acc + d.n_tokens > {int(max_tokens)}
                  THEN p.pack_id + 1 ELSE p.pack_id END,
             CASE WHEN p.acc + d.n_tokens > {int(max_tokens)}
                  THEN d.n_tokens ELSE p.acc + d.n_tokens END
      FROM packed p JOIN d ON d.bucket = p.bucket AND d.rn = p.rn + 1
    )
    SELECT {id_col}, bucket, pack_id, n_tokens FROM packed
    """
