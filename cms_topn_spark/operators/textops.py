"""Text-analysis operators for training-data pipelines — all pure Catalyst.

Every operator here compiles to native Spark SQL expressions (whole-stage
codegen, no Python), and each has an exactly-equivalent ANSI-SQL form used as
the DuckDB oracle in ``__spark_entry__.oracle_sql``. Semantics chosen to be
engine-portable (token-level set ops instead of regex-boundary tricks; integer
fixed-point instead of float output) so Spark and DuckDB agree bit-for-bit.

Operators: token counting (whitespace + BPE-ish word/number/punct pieces),
language ID (stopword-hit argmax with fixed precedence), quality scoring
(alpha ratio / stopword ratio / length, fixed-point), and content
fingerprinting (md5; plus a rolling-hash winnowing variant in dedup.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BPE_ISH = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

STOPWORDS = {
    "en": ("the", "a", "is", "and", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "los", "las", "y", "es"),
}
LANG_PRECEDENCE = ("en", "de", "fr", "es")


def _in_list(vals: tuple[str, ...]) -> str:
    return ", ".join(f"'{v}'" for v in vals)


def stopword_hits(text_col: str, lang: str) -> Column:
    """Count of tokens that are stopwords of ``lang`` (token-exact, no regex)."""
    return F.expr(
        f"size(filter(split({text_col}, ' '), t -> t IN ({_in_list(STOPWORDS[lang])})))"
    )


def token_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish piece count per document."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH), 0)).cast("long").alias(
            "bpe_tokens"
        ),
    )


def token_stats_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '{BPE_ISH}'))::BIGINT AS bpe_tokens
    FROM {table}
    """


def stage_stopword_hits(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Materialize per-language stopword hit counts as ``_hits_<lang>``
    columns ONCE, from ONE staged token array. Catalyst's project-collapse
    declines to inline an alias referenced more than once, so the split
    runs once per row and each language's filter once — the same
    no-CSE-through-lambdas workaround repetition_stats measured at 30×."""
    staged = df.withColumn("_sw_tk", F.expr(f"split({text_col}, ' ')"))
    staged = staged.select(
        "*",
        *[
            F.expr(
                f"size(filter(_sw_tk, t -> t IN ({_in_list(STOPWORDS[lang])})))"
            )
            .cast("long")
            .alias(f"_hits_{lang}")
            for lang in LANG_PRECEDENCE
        ],
    )
    return staged.drop("_sw_tk")


def lang_pred_from_hit_cols() -> Column:
    """Argmax prediction from staged ``_hits_<lang>`` columns (cheap column
    references — safe to inline many times)."""
    mx = F.greatest(*[F.col(f"_hits_{lang}") for lang in LANG_PRECEDENCE])
    return (
        F.when(mx == F.lit(0), F.lit("und"))
        .when(F.col("_hits_en") == mx, F.lit("en"))
        .when(F.col("_hits_de") == mx, F.lit("de"))
        .when(F.col("_hits_fr") == mx, F.lit("fr"))
        .otherwise(F.lit("es"))
    )


def lang_pred_sql(text_expr: str = "text") -> str:
    """The SQL rendering of :func:`lang_pred_from_hit_cols` over a text
    expression (a DuckDB CASE fragment)."""
    h = {
        lang: f"len(list_filter(string_split({text_expr},' '), t -> t IN ({_in_list(STOPWORDS[lang])})))"
        for lang in LANG_PRECEDENCE
    }
    mx = f"greatest({h['en']}, {h['de']}, {h['fr']}, {h['es']})"
    return (
        f"CASE WHEN {mx} = 0 THEN 'und' "
        f"WHEN {h['en']} = {mx} THEN 'en' "
        f"WHEN {h['de']} = {mx} THEN 'de' "
        f"WHEN {h['fr']} = {mx} THEN 'fr' "
        f"ELSE 'es' END"
    )


def lang_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID with deterministic precedence en>de>fr>es.
    Hit counts are staged as columns once (stage_stopword_hits), so each
    per-language split+filter runs once per row instead of up to three
    times (greatest + when-branch + output column)."""
    staged = stage_stopword_hits(df.select(id_col, text_col), text_col)
    return staged.select(
        F.col(id_col),
        lang_pred_from_hit_cols().alias("pred_lang"),
        *[F.col(f"_hits_{lang}").alias(f"hits_{lang}") for lang in LANG_PRECEDENCE],
    )


def lang_id_sql(table: str = "documents") -> str:
    h = {
        lang: f"len(list_filter(string_split(text,' '), t -> t IN ({_in_list(STOPWORDS[lang])})))"
        for lang in LANG_PRECEDENCE
    }
    mx = f"greatest({h['en']}, {h['de']}, {h['fr']}, {h['es']})"
    return f"""
    SELECT doc_id,
           CASE WHEN {mx} = 0 THEN 'und'
                WHEN {h['en']} = {mx} THEN 'en'
                WHEN {h['de']} = {mx} THEN 'de'
                WHEN {h['fr']} = {mx} THEN 'fr'
                ELSE 'es' END AS pred_lang,
           {h['en']}::BIGINT AS hits_en,
           {h['de']}::BIGINT AS hits_de,
           {h['fr']}::BIGINT AS hits_fr,
           {h['es']}::BIGINT AS hits_es
    FROM {table}
    """


# characteristic character trigrams per language (with their space contexts);
# counted as non-overlapping regex matches — Java regex and RE2 both scan
# left-to-right non-overlapping, so Spark and DuckDB agree exactly
NGRAM_PROFILES = {
    "en": "(th|he |ing| of|and)",
    "de": "(sch|ein|der|ich|und)",
    "fr": "(eau|oux|ais|les|que)",
    "es": "(ción|los|ado|una|est)",
}


def lang_id_ngram(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Character-n-gram language ID: count characteristic trigram hits per
    language, argmax with the same deterministic precedence as lang_id."""
    hits = {
        lang: F.expr(f"regexp_count({text_col}, '{pat}')")
        for lang, pat in NGRAM_PROFILES.items()
    }
    mx = F.greatest(*[hits[lang] for lang in LANG_PRECEDENCE])
    pred = (
        F.when(mx == F.lit(0), F.lit("und"))
        .when(hits["en"] == mx, F.lit("en"))
        .when(hits["de"] == mx, F.lit("de"))
        .when(hits["fr"] == mx, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return df.select(
        F.col(id_col),
        pred.alias("pred_lang"),
        *[hits[lang].cast("long").alias(f"ngram_{lang}") for lang in LANG_PRECEDENCE],
    )


def lang_id_ngram_sql(table: str = "documents") -> str:
    h = {
        lang: f"len(regexp_extract_all(text, '{pat}'))"
        for lang, pat in NGRAM_PROFILES.items()
    }
    mx = f"greatest({h['en']}, {h['de']}, {h['fr']}, {h['es']})"
    return f"""
    SELECT doc_id,
           CASE WHEN {mx} = 0 THEN 'und'
                WHEN {h['en']} = {mx} THEN 'en'
                WHEN {h['de']} = {mx} THEN 'de'
                WHEN {h['fr']} = {mx} THEN 'fr'
                ELSE 'es' END AS pred_lang,
           {h['en']}::BIGINT AS ngram_en,
           {h['de']}::BIGINT AS ngram_de,
           {h['fr']}::BIGINT AS ngram_fr,
           {h['es']}::BIGINT AS ngram_es
    FROM {table}
    """


def quality_score(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Fixed-point quality features: micro-units so engines agree exactly.

    alpha_ratio  = alpha chars / chars, punct_ratio = non-alnum-space / chars,
    stop_ratio   = english stopword tokens / tokens — all ×1e6 floored."""
    chars = F.length(F.col(text_col))
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    punct = F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", ""))
    toks = F.size(F.split(F.col(text_col), " "))
    stops = stopword_hits(text_col, "en")
    fx = lambda c: F.floor(c * F.lit(1_000_000)).cast("long")
    return df.select(
        F.col(id_col),
        chars.cast("long").alias("n_chars"),
        toks.cast("long").alias("n_tokens"),
        fx(alpha / chars).alias("alpha_ratio_fx"),
        fx(punct / chars).alias("punct_ratio_fx"),
        fx(stops / toks).alias("stop_ratio_fx"),
    )


def quality_score_sql(table: str = "documents") -> str:
    stops = f"len(list_filter(string_split(text,' '), t -> t IN ({_in_list(STOPWORDS['en'])})))"
    return f"""
    SELECT doc_id,
           len(text)::BIGINT AS n_chars,
           len(string_split(text,' '))::BIGINT AS n_tokens,
           floor(1000000 * len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::DOUBLE / len(text))::BIGINT AS alpha_ratio_fx,
           floor(1000000 * len(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))::DOUBLE / len(text))::BIGINT AS punct_ratio_fx,
           floor(1000000 * {stops}::DOUBLE / len(string_split(text,' ')))::BIGINT AS stop_ratio_fx
    FROM {table}
    """


def repetition_stats(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Repetition-based quality features (the Gopher/C4-style filters every
    web-scale training pipeline applies before training):

      dup_token_fx   = (1 − distinct_tokens / tokens) × 1e6, floored
      top_bigram_fx  = (count of most frequent word-bigram / bigrams) × 1e6

    Pure Catalyst per-row array expressions — no explode, no shuffle, no
    Python: cost is bounded per document, so the operator is a map over the
    scan at any corpus size. The token and SORTED bigram arrays are
    materialized as columns first (Catalyst does not CSE subexpressions
    through lambda bodies — inlining them re-built the arrays per lambda
    iteration, measured 30× slower), and the top-bigram count is a single
    linear ``aggregate`` run-length pass over the sorted array. Fixed-point
    micro-units keep Spark and DuckDB bit-identical."""
    tk = f"split({text_col}, ' ')"
    bg = (
        f"CASE WHEN size(tk) < 2 THEN array() "
        f"ELSE array_sort(transform(sequence(1, size(tk) - 1), "
        f"i -> concat(element_at(tk, i), ' ', element_at(tk, i + 1)))) END"
    )
    # longest run in the sorted bigram array = most frequent bigram count;
    # state: (prev element, current run, best run) — one linear pass
    top_bg = (
        "aggregate(bg, named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L), "
        "(s, x) -> named_struct("
        "  'prev', x, "
        "  'run', CASE WHEN s.prev IS NOT NULL AND x = s.prev THEN s.run + 1L ELSE 1L END, "
        "  'best', greatest(s.best, CASE WHEN s.prev IS NOT NULL AND x = s.prev "
        "                           THEN s.run + 1L ELSE 1L END)), "
        "s -> s.best)"
    )
    staged = df.select(
        F.col(id_col), F.expr(tk).alias("tk")
    ).withColumn("bg", F.expr(bg))
    # top_bg is materialized ONCE as a column (the same no-CSE-through-lambdas
    # pitfall as tk/bg: interpolating it into both output expressions ran the
    # run-length pass twice per row), then both outputs derive from it
    counted = staged.withColumn("top_bigram_count", F.expr(top_bg).cast("long"))
    return counted.select(
        F.col(id_col),
        F.expr("size(tk)").cast("long").alias("n_tokens"),
        F.expr("size(array_distinct(tk))").cast("long").alias("distinct_tokens"),
        F.expr("floor(1000000 * (1.0 - size(array_distinct(tk)) / size(tk)))")
        .cast("long")
        .alias("dup_token_fx"),
        F.col("top_bigram_count"),
        F.expr("floor(1000000 * top_bigram_count / greatest(size(bg), 1))")
        .cast("long")
        .alias("top_bigram_fx"),
    )


def repetition_stats_sql(table: str = "documents") -> str:
    tk = "string_split(text, ' ')"
    bg = (
        f"CASE WHEN len({tk}) < 2 THEN [] "
        f"ELSE [{tk}[i] || ' ' || {tk}[i+1] for i in range(1, len({tk}))] END"
    )
    top_bg = f"list_max([len(list_filter({bg}, x -> x = g)) for g in list_distinct({bg})])"
    return f"""
    SELECT doc_id,
           len({tk})::BIGINT AS n_tokens,
           len(list_distinct({tk}))::BIGINT AS distinct_tokens,
           floor(1000000 * (1.0 - len(list_distinct({tk}))::DOUBLE / len({tk})))::BIGINT AS dup_token_fx,
           coalesce({top_bg}, 0)::BIGINT AS top_bigram_count,
           floor(1000000 * coalesce({top_bg}, 0)::DOUBLE / greatest(len({bg}), 1))::BIGINT AS top_bigram_fx
    FROM {table}
    """


def tfidf_top_terms(
    df: DataFrame, k: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document top-k salient terms by tf·idf with **linear idf**
    (idf = 1/df): score = tf / df, ties broken by term ascending. Output
    (doc_id, term, tf, df, rank).

    Why 1/df instead of log-idf: the ranking stays monotone-decreasing in
    document frequency (the property that surfaces rare terms), while the
    score is ONE correctly-rounded IEEE division of two integers — bit-
    identical between Spark and DuckDB, where `ln` can differ in the last
    ulp across libm implementations and flip ranks at ties. Determinism is
    what puts this operator under the value oracle.

    Plan shape: tokenize → groupBy (doc, term) for tf (uniform composite
    key) → groupBy term for df (uniform; tf rows are already distinct per
    doc-term, so count(*) = document frequency) → join scores back on term
    (vocabulary-sized side — AQE broadcasts it when it fits, shuffle-joins
    otherwise) → per-doc window top-k. Every shuffle key is uniformly
    distributed; nothing is corpus-broadcast or driver-side.

    The tf frame feeds TWO branches (the df aggregation and the score join),
    so it is staged once via localCheckpoint: unstaged, the final AQE plan
    materialized two independent ShuffleQueryStages, each paying its own
    corpus scan + tokenize + partial aggregate (the measured round-6
    defect). One scan, one tf shuffle. At petabyte scale this stage goes to
    a parquet intermediate instead. A single-split input (one small file)
    is round-robin-spread first so tokenize + partial aggregation run at
    cluster parallelism — no-op at scale (build.spread_small_input); the
    output is partitioning-independent (exact counts, deterministic
    ranking)."""
    from pyspark.sql.window import Window

    from .build import spread_small_input

    tok = spread_small_input(df.select(F.col(id_col), F.col(text_col))).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    tf = (
        tok.groupBy(id_col, "term")
        .agg(F.count("*").cast("long").alias("tf"))
        .localCheckpoint(eager=True)
    )
    dfreq = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf").cast("double") / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", F.col("rank").cast("int").alias("rank"))
    )


def tfidf_top_terms_sql(table: str = "documents", k: int = 3) -> str:
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM {table}
    ),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok GROUP BY doc_id, term
    ),
    dfreq AS (
      SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term
    ),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf::DOUBLE / dfreq.df AS score
      FROM tf JOIN dfreq USING (term)
    )
    SELECT doc_id, term, tf, df, rank::INT AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def fingerprints(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of the exact text bytes."""
    return df.select(F.col(id_col), F.md5(F.col(text_col)).alias("fp"))


def fingerprints_sql(table: str = "documents") -> str:
    return f"SELECT doc_id, md5(text) AS fp FROM {table}"


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 128,
    stride: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Token-window document chunking: (doc_id, chunk_id, n_tokens, chunk).

    The training-example preparation step — split every document into
    whitespace-token windows of ``chunk_tokens`` starting every ``stride``
    tokens (stride < chunk_tokens ⇒ overlapping windows, the usual LM
    setting; the final partial window is kept). Pure Catalyst higher-order
    expressions: at 100 TB this is a whole-stage-codegen map with NO shuffle
    and no Python — the output rows are (docs × windows) and stream straight
    to the sink or the tokenizer stage."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = f"split({text_col}, ' ')"
    starts = f"sequence(0, size(_t) - 1, {stride})"
    return (
        df.select(F.col(id_col), F.expr(toks).alias("_t"))
        .select(F.col(id_col), "_t", F.explode(F.expr(starts)).alias("_start"))
        .select(
            F.col(id_col),
            F.expr(f"_start div {stride}").cast("long").alias("chunk_id"),
            F.expr(f"size(slice(_t, _start + 1, {chunk_tokens}))")
            .cast("long")
            .alias("n_tokens"),
            F.expr(f"array_join(slice(_t, _start + 1, {chunk_tokens}), ' ')").alias(
                "chunk"
            ),
        )
    )


def chunk_documents_sql(
    table: str = "documents", chunk_tokens: int = 128, stride: int = 64
) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM {table}
    ),
    starts AS (
      SELECT doc_id, t, unnest(range(0, len(t), {stride})) AS s FROM toks
    )
    SELECT doc_id, (s // {stride})::BIGINT AS chunk_id,
           len(t[s + 1 : s + {chunk_tokens}])::BIGINT AS n_tokens,
           array_to_string(t[s + 1 : s + {chunk_tokens}], ' ') AS chunk
    FROM starts
    """
