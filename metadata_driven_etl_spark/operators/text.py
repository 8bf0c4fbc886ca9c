"""Text-analysis operators for training-data pipelines (extended surface).

Not present in the reference (its only text op is a regex DQ rule,
dq_engine.py:66-107); added per the north star: language-ID, quality
scoring, token counting, document fingerprinting over the ``documents``
table.

Every operator here is expressed with JVM-side built-in functions (no Python
UDFs), so it whole-stage-codegens and scales linearly; each has a
``sql_*`` twin emitting the equivalent DuckDB SQL fragment so the driver's
oracle can verify it. The twins MUST stay in lock-step — tests compare them.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metadata_driven_etl_spark.io.writer import checkpoint

# --- canonical normalization (shared by dedup + text ops) -------------------


def norm_text(col: Column | str) -> Column:
    """lowercase, strip non-[a-z0-9 ], squeeze spaces, trim."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def sql_norm_text(expr: str) -> str:
    return (
        "trim(regexp_replace(regexp_replace(lower("
        + expr
        + "), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
    )


def tokens(col: Column | str) -> Column:
    """Tokens of the normalized text; '' → empty array.

    One regex pass: split on non-alphanumeric runs, drop empties —
    equivalent to norm_text + whitespace split (property: identical output,
    checked against the two-regexp form on the corpus) at ~2.5x the speed;
    tokenization is the dominant cost of every shingle/minhash pipeline.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), "[^a-z0-9]+"), lambda x: x != "")


def sql_tokens(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '[^a-z0-9]+'), "
        "x -> x != '')"
    )


# --- token counting ---------------------------------------------------------


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def sql_token_count(expr: str) -> str:
    return f"CAST(len({sql_tokens(expr)}) AS BIGINT)"


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish proxy: count word pieces + digits + punctuation runs.

    Splits on the boundaries a byte-pair tokenizer would likely split:
    letter-runs, digit-runs, and single non-alnum glyphs each count once.
    Pure regex → JVM-side, identical in DuckDB.
    """
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), 0)
    return F.size(pieces).cast("long")


def sql_bpe_ish_token_count(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({expr}, "
        "'[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT)"
    )


# --- quality scoring --------------------------------------------------------

_STOPWORDS = (
    "the a an and or of to in is are was for on with as by at this that it "
).split()


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword features + a composite quality score.

    Heuristics in the spirit of C4/Gopher-style quality filters: very short
    docs, punctuation-heavy docs, and stopword-free docs score low.

    Built as staged projections: tokenization and each regexp run exactly
    once per row (Catalyst keeps the stages because it refuses to collapse
    projections that would duplicate expensive expressions); the composite
    score reads the already-computed feature attributes.
    """
    c = F.col(text_col)
    staged = df.select("doc_id", c.alias("_text"), tokens(c).alias("_toks"))
    feats = staged.select(
        "doc_id",
        *[
            expr.alias(name)
            for name, expr in quality_feature_exprs(
                F.col("_text"), F.col("_toks")
            ).items()
        ],
    )
    return feats.withColumn("quality_score", quality_score_expr())


def quality_feature_exprs(t, toks) -> dict:
    """The per-row quality feature expressions over a (text, tokens)
    projection stage — exposed so composed pipelines can fuse them into
    one projection instead of joining :func:`quality_features` back on
    doc_id."""
    n_chars = F.length(t).cast("long")
    n_tokens = F.size(toks).cast("long")
    n_alnum = F.length(F.regexp_replace(t, "[^A-Za-z0-9]", "")).cast("long")
    punct_ratio = F.round(
        (n_chars - n_alnum - (n_chars - F.length(F.regexp_replace(t, " ", ""))))
        / F.greatest(n_chars, F.lit(1)),
        6,
    )
    stop_arr = F.array(*[F.lit(s) for s in _STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop_arr)).cast("long")
    stop_ratio = F.round(n_stop / F.greatest(n_tokens, F.lit(1)), 6)
    mean_tok_len = F.round(
        F.when(n_tokens > 0, F.length(F.concat_ws("", toks)) / n_tokens).otherwise(
            F.lit(0.0)
        ),
        6,
    )
    return {
        "n_chars_m": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": punct_ratio,
        "stop_ratio": stop_ratio,
        "mean_tok_len": mean_tok_len,
    }


def quality_score_expr(prefix: str = ""):
    """Composite score over the already-projected feature attributes of
    :func:`quality_feature_exprs` (reads them by name so each regexp runs
    once per row). ``prefix`` lets callers stage the features under
    collision-safe temp names when fusing into frames with arbitrary user
    schemas."""
    return F.round(
        F.least(F.col(f"{prefix}n_tokens") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(F.col(f"{prefix}punct_ratio") * 5, F.lit(1.0))) * 0.3
        + F.least(F.col(f"{prefix}stop_ratio") * 10, F.lit(1.0)) * 0.3,
        6,
    )


def sql_quality_features(table: str = "documents", text_col: str = "text") -> str:
    toks = sql_tokens(text_col)
    stop_list = "[" + ", ".join(f"'{s}'" for s in _STOPWORDS) + "]"
    return f"""
    SELECT doc_id,
           CAST(length({text_col}) AS BIGINT) AS n_chars_m,
           CAST(len({toks}) AS BIGINT) AS n_tokens,
           round((length({text_col})
                   - length(regexp_replace({text_col}, '[^A-Za-z0-9]', '', 'g'))
                   - (length({text_col}) - length(regexp_replace({text_col}, ' ', '', 'g'))))
                 / greatest(length({text_col}), 1), 6) AS punct_ratio,
           round(CAST(len(list_intersect(list_distinct({toks}), {stop_list})) AS BIGINT)
                 / greatest(len({toks}), 1), 6) AS stop_ratio,
           round(CASE WHEN len({toks}) > 0
                      THEN length(list_aggregate({toks}, 'string_agg', '')) * 1.0 / len({toks})
                      ELSE 0.0 END, 6) AS mean_tok_len,
           round(least(len({toks}) / 100.0, 1.0) * 0.4
                 + (1.0 - least(round((length({text_col})
                   - length(regexp_replace({text_col}, '[^A-Za-z0-9]', '', 'g'))
                   - (length({text_col}) - length(regexp_replace({text_col}, ' ', '', 'g'))))
                 / greatest(length({text_col}), 1), 6) * 5, 1.0)) * 0.3
                 + least(round(CAST(len(list_intersect(list_distinct({toks}), {stop_list})) AS BIGINT)
                 / greatest(len({toks}), 1), 6) * 10, 1.0) * 0.3, 6) AS quality_score
    FROM {table}
    """


# --- repetition scoring (Gopher-style) --------------------------------------


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Intra-document repetition signals in the spirit of the Gopher data
    quality rules (Rae et al. 2021 §A1.1): heavily repetitive documents are
    boilerplate/spam and get filtered before training.

    Per doc: token count, distinct-token fraction, most-frequent-token
    fraction, and duplicate-bigram fraction (1 − distinct bigrams / total
    bigrams). Fractions are NULL when undefined (empty doc; <2 tokens for
    the bigram signal).

    Shape: pure per-row array expressions — ZERO shuffle. The mode count
    is the longest run in the sorted token array (one O(n log n) sort +
    one O(n) fold per row, JVM-side higher-order functions). An earlier
    revision exploded tokens through two groupBy passes; that moved
    |tokens| × rows through the network twice and joined the results back
    on doc_id — per-row expressions cost the same locally and remove all
    three wide ops, which is the difference that matters at 100 TB.

    All fractions are int/int divisions → bit-identical IEEE doubles in
    Spark and DuckDB (no rounding needed; see sql twin).
    """
    from metadata_driven_etl_spark.operators.dedup import shingles

    staged = df.select(
        F.col(id_col),
        tokens(text_col).alias("_toks"),
        F.size(shingles(text_col, 2)).cast("long").alias("_n_dist_bigrams"),
    )
    return staged.select(
        id_col,
        *[
            expr.alias(name)
            for name, expr in repetition_exprs(
                F.col("_toks"), F.col("_n_dist_bigrams")
            ).items()
        ],
    )


def repetition_exprs(toks, n_dist_bigrams) -> dict:
    """Per-row repetition expressions over a (tokens, distinct-bigram
    count) projection stage — exposed for fusion into composed pipelines.
    Fractions are NULL for empty docs (and <2-token docs for the bigram
    signal), matching the join-based formulation they replaced."""
    n_tok = F.size(toks).cast("long")
    n_tok_null = F.nullif(n_tok, F.lit(0))
    n_distinct = F.size(F.array_distinct(toks)).cast("long")
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
    )

    def merge(acc, t):
        run = F.when(t.eqNullSafe(acc.prev), acc.run + 1).otherwise(
            F.lit(1).cast("long")
        )
        return F.struct(
            t.alias("prev"), run.alias("run"),
            F.greatest(acc.best, run).alias("best"),
        )

    top_cnt = F.nullif(
        F.aggregate(F.array_sort(toks), init, merge, lambda a: a.best),
        F.lit(0),
    )
    return {
        "n_tokens": n_tok,
        "distinct_token_frac": n_distinct / n_tok_null,
        "top_token_frac": top_cnt / n_tok_null,
        "dup_bigram_frac": F.when(
            n_tok >= 2, F.lit(1.0) - n_dist_bigrams / (n_tok - F.lit(1))
        ),
    }


def sql_repetition_features(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id"
) -> str:
    from metadata_driven_etl_spark.operators.dedup import sql_shingles

    toks = sql_tokens(text_col)
    sh2 = sql_shingles(text_col, 2)
    return f"""
    WITH tok AS (
        SELECT {id_col}, unnest({toks}) AS tok FROM {table}
    ),
    counts AS (
        SELECT {id_col}, tok, count(*) AS c FROM tok GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT {id_col},
               CAST(sum(c) AS BIGINT) AS _n_tokens,
               CAST(count(*) AS BIGINT) AS _n_distinct,
               CAST(max(c) AS BIGINT) AS _top_cnt
        FROM counts GROUP BY 1
    ),
    bi AS (
        SELECT {id_col}, CAST(len({sh2}) AS BIGINT) AS _n_dist_bigrams
        FROM {table}
    )
    SELECT t.{id_col},
           COALESCE(p._n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
           p._n_distinct / p._n_tokens AS distinct_token_frac,
           p._top_cnt / p._n_tokens AS top_token_frac,
           CASE WHEN p._n_tokens >= 2
                THEN 1.0 - b._n_dist_bigrams / (p._n_tokens - 1)
           END AS dup_bigram_frac
    FROM {table} t
    LEFT JOIN per_doc p USING ({id_col})
    LEFT JOIN bi b USING ({id_col})
    """


# --- language identification ------------------------------------------------

# Tiny per-language marker-word sets (public-knowledge function words). The
# heuristic is distinct-token overlap — argmax over languages, 'und' when no
# marker hits. n-gram-free so it stays exactly expressible in both engines.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "et", "est", "dans", "que", "pour", "une"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"],
    "es": ["el", "la", "los", "de", "y", "es", "en", "que", "por", "una"],
    "zh": ["de", "shi", "bu", "le", "zai", "wo", "you", "he", "ren", "zhe"],
}


def lang_id_df(
    df: DataFrame, text_col: str = "text", out_col: str = "lang_pred"
) -> DataFrame:
    """Append predicted language = argmax marker overlap; ties broken by the
    fixed language order in LANG_MARKERS; all-zero → 'und'.

    Staged: tokenize once → one score column per language → argmax over the
    score attributes (the argmax case-when references each score several
    times, so scores must be materialized attributes, not repeated
    array_intersect calls).
    """
    staged = df.withColumn("_dtoks", F.array_distinct(tokens(text_col)))
    for lang, words in LANG_MARKERS.items():
        staged = staged.withColumn(
            f"_s_{lang}",
            F.size(
                F.array_intersect(
                    F.col("_dtoks"), F.array(*[F.lit(w) for w in words])
                )
            ),
        )
    scores = {lang: F.col(f"_s_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    # build reversed so earlier languages win ties via later when() override
    for lang in reversed(list(scores)):
        out = F.when(scores[lang] == best, F.lit(lang)).otherwise(out)
    out = F.when(best == 0, F.lit("und")).otherwise(out)
    return staged.withColumn(out_col, out).drop(
        "_dtoks", *[f"_s_{lang}" for lang in LANG_MARKERS]
    )


def sql_lang_id(expr: str) -> str:
    toks = f"list_distinct({sql_tokens(expr)})"
    score = {
        lang: f"len(list_intersect({toks}, [{', '.join(repr(w) for w in words)}]))"
        for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    whens = " ".join(
        f"WHEN {score[lang]} = {best} THEN '{lang}'" for lang in LANG_MARKERS
    )
    return f"CASE WHEN {best} = 0 THEN 'und' {whens} ELSE 'und' END"


# --- fingerprinting ---------------------------------------------------------


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of normalized text (whitespace/punct/case
    insensitive). md5 so DuckDB computes the identical value."""
    return F.md5(norm_text(col))


def sql_doc_fingerprint(expr: str) -> str:
    return f"md5({sql_norm_text(expr)})"


def bag_fingerprint(col: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token set
    (catches shuffled/duplicated-word near-dups)."""
    toks = F.array_sort(F.array_distinct(tokens(col)))
    return F.md5(F.concat_ws(" ", toks))


def sql_bag_fingerprint(expr: str) -> str:
    return f"md5(array_to_string(list_sort(list_distinct({sql_tokens(expr)})), ' '))"


# --- feature-hashing vectorizer (hashing trick) -----------------------------


def feature_hash_embed(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    dim: int = 16,
) -> DataFrame:
    """Document → dense ``dim``-dimensional term-count vector via the
    hashing trick: each token increments bucket md5(token) % dim. The
    standard no-vocabulary vectorizer (Weinberger et al. 2009) — gives
    every doc a deterministic embedding with zero fitted state, ready for
    the similarity operators (cosine top-k, embedding near-dup, ANN).

    Per-row array expressions only (O(dim × tokens) per doc, whole-stage
    codegen, ZERO shuffle) — at 100 TB this is a map-only pass. Counts
    stay exact integers cast to double, so the DuckDB twin is
    bit-identical with no float-sum concerns.
    """
    toks = tokens(text_col)
    staged = df.select(F.col(id_col), toks.alias("_toks"))
    emb = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.size(
            F.filter(
                F.transform(F.col("_toks"), lambda t: _md5_bucket(t, dim)),
                lambda b: b == i,
            )
        ).cast("double"),
    )
    return staged.select(id_col, emb.alias("embedding"))


def _md5_bucket(t, dim: int):
    return (
        F.conv(F.substring(F.md5(t), 1, 13), 16, 10).cast("long") % dim
    )


def sql_feature_hash_embed(
    table: str = "documents", text_col: str = "text", id_col: str = "doc_id",
    dim: int = 16,
) -> str:
    """DuckDB twin of :func:`feature_hash_embed`."""
    toks = sql_tokens(text_col)
    bucket = f"('0x' || substr(md5(t), 1, 13))::BIGINT % {dim}"
    return f"""
    SELECT {id_col},
           list_transform(range(0, {dim}), i ->
               CAST(len(list_filter(list_transform({toks}, t -> {bucket}),
                                    b -> b = i)) AS DOUBLE)) AS embedding
    FROM {table}
    """


def bigrams(col: Column | str) -> Column:
    """Adjacent-token bigrams ("a b") of the normalized text as an array —
    per-row array expressions only (zip_with over two shifted slices), so
    bigram formation is map-side at any scale; docs with <2 tokens yield
    an empty array."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    return F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))


def sql_bigrams_from_tokens(toks: str) -> str:
    """DuckDB bigram list over an already-bound token-list expression.

    Callers should bind the (regex-heavy) token list ONCE in a subquery
    and pass its alias here — inlining ``sql_tokens`` directly would
    re-tokenize the document inside the per-index lambda, O(n²) regex
    work per document.
    """
    return (
        f"CASE WHEN len({toks}) >= 2 THEN "
        f"list_transform(generate_series(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1]) "
        f"ELSE [] END"
    )


def trigrams(toks: Column) -> Column:
    """Word-trigram list over an already-bound token array; <3 tokens →
    empty. 1-indexed element_at keeps the expression in lock-step with
    the DuckDB twin."""
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def sql_trigrams_from_tokens(toks: str) -> str:
    """DuckDB trigram list — same bind-once contract as the bigram
    twin."""
    return (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(generate_series(1, len({toks}) - 2), "
        f"i -> {toks}[i] || ' ' || {toks}[i + 1] || ' ' || {toks}[i + 2]) "
        f"ELSE [] END"
    )


def trigram_novelty(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document trigram novelty: (id, slots, novel) where slots is
    the doc's DISTINCT trigram count and novel the subset whose global
    first occurrence (min id) is this doc — the incremental-information
    readout (see workloads.ngram_novelty_by_source for the full
    rationale). Shared by the workload and the scaling probe so the
    measured curve always describes the shipped operator.

    Scale: trigram formation is a per-row array expression (map-side);
    ONE shuffle groups the gram frame into the |distinct grams| domain
    (min-id in the same pass), one inverted-index equi-join carries the
    first-claimant back, one per-doc rollup — never all-pairs. The gram
    frame is consumed twice (claimant build + scoring) and so is
    localCheckpoint-materialized once."""
    toks = docs.select(id_col, tokens(text_col).alias("__toks"))
    tri = checkpoint(
        toks.where(F.size("__toks") >= 3)
        .select(
            id_col,
            F.explode(trigrams(F.col("__toks"))).alias("gram"),
        )
        .distinct()
    )
    first = tri.groupBy("gram").agg(F.min(id_col).alias("__first"))
    return (
        tri.join(first, "gram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("slots"),
            F.sum(
                F.when(F.col("__first") == F.col(id_col), 1).otherwise(0)
            ).alias("novel"),
        )
    )


def bigram_lm_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    min_freq: int = 1,
) -> DataFrame:
    """Corpus-LM typicality per document: mean corpus frequency of the
    doc's bigrams (the CCNet/KenLM quality-filter shape in exact
    arithmetic — see workloads.text_bigram_lm_score for the full
    rationale). Bigrams form map-side; ONE shuffle builds the frequency
    model; one inverted-index join scores docs. The bigram frame is
    consumed twice (model + scoring) and so is localCheckpoint-
    materialized once. Shared by the workload and the scaling probe so
    the measured curve always describes the shipped operator.

    ``min_freq`` is the KenLM-style pruning floor: bigrams with corpus
    frequency below it are dropped from the MODEL before the scoring
    join. At web scale the frequency table is dominated by its singleton
    long tail (most distinct bigrams occur once), so even ``min_freq=2``
    shrinks the model — and therefore the scoring join's build side —
    by the singleton mass, while barely moving the typicality score of
    ordinary documents. At the default ``min_freq=1`` nothing is pruned
    (every observed bigram has freq ≥ 1) and output is bit-identical to
    the unpruned model (property-pinned). Note docs whose bigrams are ALL
    pruned drop out of the output (no surviving model entry to score
    against) — at a sane floor those are exactly the gibberish docs a
    typicality filter exists to flag.
    """
    pairs = checkpoint(
        docs.select(id_col, bigrams(text_col).alias("bigs"))
        .filter(F.size("bigs") >= 1)
        .select(id_col, F.explode("bigs").alias("bigram"))
    )
    counts = pairs.groupBy("bigram").agg(
        F.count(F.lit(1)).alias("bg_freq")
    )
    if min_freq > 1:
        counts = counts.filter(F.col("bg_freq") >= min_freq)
    return (
        pairs.join(counts, "bigram")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg("bg_freq").alias("avg_bigram_freq"),
        )
    )


# --- sparse all-pairs cosine similarity (inverted index) --------------------


def doc_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    min_cosine: float = 0.5,
    shingle_n: int | None = None,
) -> DataFrame:
    """All-pairs document cosine similarity over term-frequency vectors,
    generated through the inverted index (term postings) — the
    DISCO-/dimsum-family shape for pairwise similarity WITHOUT minhash
    approximation. Output: (doc_a, doc_b, dot, cosine) for pairs with
    cosine >= ``min_cosine``.

    Pair generation is the postings SELF-join on the term key: only
    documents sharing a surviving term ever meet, so the candidate space
    is sum_t df_t^2 over kept terms — which is why ``max_df`` is the
    scale lever, not a tuning nicety: one stop-term with df = |corpus|
    alone re-creates the full |docs|^2 cartesian pair space. Prune terms
    with df > max_df (they contribute near-zero cosine mass anyway) and
    the pair space collapses to the rare-term co-occurrence structure. At
    100 TB run with max_df on the order of 1e3-1e4; ``None`` disables
    pruning (small corpora only).

    Cosine stays hash-exact across engines: tf vectors are integer
    counts, so dot = SUM(tf_a*tf_b) and the norms SUM(tf^2) are exact
    bigints; the only floating-point ops are one long->double conversion
    per factor, one multiply, one IEEE-correctly-rounded sqrt, and one
    division — all deterministic and identical in JVM and DuckDB.

    Plan: tokenize once into the postings frame (materialized ONCE — it
    feeds the df counts, the norms, and both join sides; multi-consumer
    frames get no ReusedExchange); norms aggregate per doc; the pair join
    shuffles postings on term; the post-aggregation norm joins shuffle
    only the candidate-PAIR frame (far smaller than postings at any
    realistic threshold). Sides are column-renamed, never joined through
    shared-lineage attribute refs.
    """
    if shingle_n is not None:
        # shingle mode: word n-grams as the term space (set semantics —
        # shingles are distinct per doc, so tf degenerates to 0/1 and
        # cosine measures shingle-set overlap). The richer vocabulary
        # makes the df prune meaningful on small-vocab corpora where
        # every UNIGRAM is a stop-term.
        from metadata_driven_etl_spark.operators.dedup import shingles

        term_expr = shingles(text_col, shingle_n)
    else:
        term_expr = tokens(text_col)
    tf = (
        docs.select(id_col, F.explode(term_expr).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if max_df is not None:
        kept = (
            tf.groupBy(F.col("term").alias("_kept_term"))
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("_kept_term")
        )
        tf = tf.join(kept, F.col("term") == F.col("_kept_term")).drop(
            "_kept_term"
        )
    tf = checkpoint(tf)
    # Materialize the norms ONCE (guide §2.4, r13): the two rename-only
    # consumers below (na/nb join sides) are separate subtrees to Spark,
    # so without this the |corpus|-row norm aggregation (HashAggregate +
    # Exchange over the full postings frame) executed twice — once per
    # side — in the r12 plan. The materialized frame is |docs| rows of
    # (id, bigint).
    norms = checkpoint(
        tf.groupBy(id_col)
        .agg(F.sum(F.col("tf") * F.col("tf")).alias("norm_sq"))
    )
    a = tf.select(
        F.col("term").alias("_term_a"),
        F.col(id_col).alias("doc_a"),
        F.col("tf").alias("_tf_a"),
    )
    b = tf.select(
        F.col("term").alias("_term_b"),
        F.col(id_col).alias("doc_b"),
        F.col("tf").alias("_tf_b"),
    )
    dots = (
        a.join(
            b,
            (F.col("_term_a") == F.col("_term_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.col("_tf_a") * F.col("_tf_b")).alias("dot"))
    )
    na = norms.select(
        F.col(id_col).alias("_na_doc"), F.col("norm_sq").alias("_na")
    )
    nb = norms.select(
        F.col(id_col).alias("_nb_doc"), F.col("norm_sq").alias("_nb")
    )
    return (
        dots.join(na, F.col("doc_a") == F.col("_na_doc"))
        .join(nb, F.col("doc_b") == F.col("_nb_doc"))
        .select(
            "doc_a",
            "doc_b",
            "dot",
            (
                F.col("dot").cast("double")
                / F.sqrt(F.col("_na").cast("double") * F.col("_nb").cast("double"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def sql_doc_cosine_pairs(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
    min_cosine: float = 0.5,
    shingle_n: int | None = None,
) -> str:
    """DuckDB oracle twin of :func:`doc_cosine_pairs` (identical integer
    dot/norm arithmetic; HUGEINT sums cast back to BIGINT)."""
    prune = (
        f"""
    kept AS (SELECT term FROM tf GROUP BY 1 HAVING COUNT(*) <= {max_df}),
    p AS (SELECT tf.* FROM tf JOIN kept USING (term))"""
        if max_df is not None
        else "\n    p AS (SELECT * FROM tf)"
    )
    if shingle_n is not None:
        from metadata_driven_etl_spark.operators.dedup import sql_shingles

        term_sql = sql_shingles(text_col, shingle_n)
    else:
        term_sql = sql_tokens(text_col)
    return f"""
    WITH tok AS (
        SELECT {id_col}, unnest({term_sql}) AS term
        FROM {table}),
    tf AS (
        SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf
        FROM tok GROUP BY 1, 2),{prune},
    norms AS (
        SELECT {id_col}, CAST(SUM(tf * tf) AS BIGINT) AS norm_sq
        FROM p GROUP BY 1),
    dots AS (
        SELECT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
               CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
        FROM p a JOIN p b
          ON a.term = b.term AND a.{id_col} < b.{id_col}
        GROUP BY 1, 2)
    SELECT doc_a, doc_b, dot,
           CAST(dot AS DOUBLE)
             / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE))
             AS cosine
    FROM dots
    JOIN norms na ON dots.doc_a = na.{id_col}
    JOIN norms nb ON dots.doc_b = nb.{id_col}
    WHERE CAST(dot AS DOUBLE)
             / sqrt(CAST(na.norm_sq AS DOUBLE) * CAST(nb.norm_sq AS DOUBLE))
          >= {min_cosine}
    """


# --- positional phrase search -------------------------------------------------


def phrase_match_postings(
    df: DataFrame,
    phrase: Sequence[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact tokenized-phrase match through a POSITIONAL inverted index:
    postings (doc, position, token) filtered to the phrase's tokens,
    then the k-th phrase token joins the anchor at position+k — the
    distributed search-engine primitive (Lucene's phrase query shape),
    counting every occurrence including overlapping/self-token ones
    ("x x x" matches "x x" twice). Returns (id_col, n_matches) for
    matching docs only.

    Scale: the postings frame materializes ONCE (every phrase token
    probes it — the persisted-index posture: at 100 TB the postings
    live as a bucketed table on (token) and each query reads only its
    tokens' posting lists); every join is an equi-join on
    (doc, anchor position) — candidate cardinality is the ANCHOR
    token's document frequency, never a cross product (plan-pinned).
    The per-doc match count partial-aggregates.

    For one-off scans (no reusable index) the map-only form —
    ``size(filter(sequence(...), i -> slice(tokens, i, L) == phrase))``
    per row, zero shuffles — beats building postings; this operator is
    the index path.
    """
    if not phrase:
        raise ValueError("phrase_match_postings: phrase must be non-empty")
    toks = build_postings(
        df, vocabulary=set(phrase), text_col=text_col, id_col=id_col
    )
    return phrase_match_in_postings(toks, phrase, id_col=id_col)


def build_postings(
    df: DataFrame,
    vocabulary: set[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Positional postings (id, pos, tok), optionally filtered to a
    vocabulary, materialized once — the reusable index frame: build it
    for the UNION of a blocklist's tokens and probe it per phrase, so
    the corpus tokenizes exactly once however many phrases are checked
    (tokenization is the dominant cost of every text pipeline here)."""
    toks = df.select(
        F.col(id_col),
        F.posexplode(tokens(text_col)).alias("pos", "tok"),
    )
    if vocabulary is not None:
        if not vocabulary:
            raise ValueError("build_postings: empty vocabulary")
        toks = toks.filter(F.col("tok").isin(*vocabulary))
    return checkpoint(toks)


def phrase_match_in_postings(
    postings: DataFrame,
    phrase: Sequence[str],
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase occurrence counts against a prebuilt ``build_postings``
    frame (which must cover the phrase's tokens)."""
    if not phrase:
        raise ValueError("phrase_match_in_postings: phrase must be non-empty")
    base = postings.filter(F.col("tok") == phrase[0]).select(id_col, "pos")
    for k, t in enumerate(phrase[1:], start=1):
        pk = postings.filter(F.col("tok") == t).select(
            F.col(id_col), (F.col("pos") - k).alias("pos")
        )
        base = base.join(pk, [id_col, "pos"])
    return base.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_matches")
    )


def rake_keyphrase_scores(
    df,
    stopwords: Sequence[str],
    max_phrase: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """RAKE-style keyphrase scoring: candidate phrases are maximal
    stopword-free token runs (gaps-and-islands over stopword breaks);
    each word scores degree (Σ length of phrases it appears in) and
    frequency; a phrase scores Σdeg / Σfreq over its word multiset —
    the classic extractor restated hash-exactly (one division of two
    exact integer sums, not an order-sensitive per-word float ratio
    sum).  Emits ``(phrase, n_occurrences, deg_sum, freq_sum,
    rake_score)`` unranked — callers order/limit (the workload's top-k
    is TakeOrderedAndProject).

    Scale: tokens explode map-side; the island id is ONE doc-keyed
    window (cumsum of stop flags); the phrase-length window shares its
    partitioning; word stats and phrase occurrences partial-aggregate;
    the phrase⋈word-stats join is an equi-join on the token
    (|vocab|-bounded build side).  ``max_phrase`` caps degenerate
    stopword-free runs.  Shared by the workload and the scaling probe
    so the measured shape IS the shipped shape.
    """
    from pyspark.sql import Window

    toks = df.select(
        id_col, F.posexplode(tokens(text_col)).alias("pos", "tok")
    ).select(
        id_col,
        (F.col("pos") + 1).alias("pos"),  # 1-based like the SQL twin
        "tok",
        F.col("tok").isin(*stopwords).cast("int").alias("stop"),
    )
    w_isl = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = toks.withColumn("island", F.sum("stop").over(w_isl)).filter(
        F.col("stop") == 0
    )
    w_ph = Window.partitionBy(id_col, "island")
    kept = checkpoint(  # feeds word stats AND phrases
        isl.withColumn("plen", F.count(F.lit(1)).over(w_ph))
        .filter(F.col("plen") <= max_phrase)
    )
    ws = kept.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    phr = kept.groupBy(id_col, "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias("phrase")
    )
    occ = phr.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    pwtok = occ.select(
        "phrase",
        "n_occurrences",
        F.explode(F.split(F.col("phrase"), " ")).alias("tok"),
    )
    score = pwtok.join(ws, "tok").groupBy("phrase", "n_occurrences").agg(
        F.sum("deg").alias("deg_sum"),
        F.sum("freq").alias("freq_sum"),
    )
    return score.select(
        "phrase",
        "n_occurrences",
        "deg_sum",
        "freq_sum",
        (
            F.col("deg_sum").cast("double")
            / F.col("freq_sum").cast("double")
        ).alias("rake_score"),
    )
