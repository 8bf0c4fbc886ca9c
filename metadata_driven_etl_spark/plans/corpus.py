"""Config-driven corpus-cleaning pipelines (training-data prep as metadata).

The reference engine's whole paradigm is "pipelines declared in YAML"
(reference src/config/*.yaml → src/modules/*_layer.py); this module
extends that contract to the training-data operator library: a corpus
pipeline declares an input documents table, an ordered list of cleaning
stages (quality / repetition / decontamination / span dedup / near-dup
dedup / token budget / leakage-safe split), and an output table — and the engine executes it with the same
metadata plane (audit log, per-stage survival metrics, per-unit error
isolation) as the ETL layers.

Stage semantics (all stages preserve the input schema, except ``split``
— the one schema-extending stage, validated to be last):

- ``quality_filter``: per-row quality score (fused expressions from
  ``operators.text`` — zero joins); keeps docs with
  score ≥ min_quality_score and tokens ≥ min_tokens.
- ``repetition_filter``: Gopher-style duplicate-bigram fraction, per-row
  expressions; keeps docs below max_dup_bigram_frac (NULL = too short to
  judge = kept).
- ``decontaminate``: drops (a) the eval docs themselves (rows matching
  ``eval_filter``) and (b) any doc sharing an ``ngram``-gram with them —
  broadcast anti-join against the small contaminated-id set.
- ``span_dedup``: replaces each doc's text with its span-deduplicated
  form (first corpus-wide occurrence of each span wins); docs whose every
  span was a repeat drop out.
- ``near_dedup``: MinHash-LSH candidate pairs → connected components;
  ``keep: first`` keeps the lowest-id member per cluster, ``keep: best``
  the highest-token-count member (ties → lowest id).
- ``token_budget``: greedy best-by-quality prefix whose cumulative token
  count stays ≤ ``budget_tokens`` (distributed prefix-sum selection —
  no single-partition window).
- ``novelty_filter``: drops docs whose distinct-trigram novelty rate
  (share of trigrams the doc introduces to the corpus —
  ``text.trigram_novelty``) is below ``min_novelty``; docs too short to
  form a trigram are kept (no evidence).
- ``phrase_filter``: drops docs containing ANY of the banned TOKENIZED
  phrases (adjacency-exact positional match via the phrase-search
  machinery — substring LIKE both over- and under-matches tokenized
  text); matched-id sets broadcast into a left-anti join.
- ``sample_quota``: exactly min(``quota_k``, |group|) docs per
  ``quota_by`` group, drawn by md5-of-id order — uniform without
  replacement, reproducible, partition-independent (the "at most N docs
  per domain" mix contract fraction-based sampling can't hit);
  WindowGroupLimit keeps the shuffle O(groups·k).
- ``split``: leakage-safe train/valid/test assignment — adds
  ``split_column`` as a pure function of ``split_by``'s hash, so every
  row of a group lands in one split (map-only; must be the last stage).

Per-stage survival (rows in → rows out) is recorded in the DQ metrics
store as rule_type ``corpus_stage``, so corpus builds are auditable the
same way DQ rules are.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from metadata_driven_etl_spark.config.model import (
    CorpusPipelineConfig,
    CorpusStageConfig,
)
from metadata_driven_etl_spark.dq.engine import DQRuleMetrics
from metadata_driven_etl_spark.io.writer import checkpoint
from metadata_driven_etl_spark.operators import decontam as decontam_ops
from metadata_driven_etl_spark.operators import dedup as dedup_ops
from metadata_driven_etl_spark.operators import text as text_ops
from metadata_driven_etl_spark.plans.pipeline import (
    UnitResult,
    _counted_write,
    _LayerBase,
)


class CorpusLayer(_LayerBase):
    """Runs every enabled corpus pipeline in a :class:`CorpusConfig`."""

    layer_name = "corpus"

    def run(self, run_date: str) -> list[UnitResult]:
        return self._run_units(
            self.config.pipelines, lambda p: self._run_pipeline(p, run_date)
        )

    # -- execution ---------------------------------------------------------

    def _load_input(self, p: CorpusPipelineConfig) -> DataFrame:
        if p.input_table:
            return self.ctx.spark.table(p.input_table)
        return self.ctx.spark.read.parquet(p.input_path)

    def _run_pipeline(self, p: CorpusPipelineConfig, run_date: str) -> int:
        docs = self._load_input(p)
        df = docs
        stage_metrics: list[DQRuleMetrics] = []
        rows_in = docs.count()
        for i, stage in enumerate(p.stages):
            df = _apply_stage(df, docs, stage, p.id_column, p.text_column)
            # Materialize each stage boundary once, in one job that also
            # counts the survivors (the stage's rows out, the next stage's
            # rows in) and truncates the growing plan so later stages
            # (which may self-join, e.g. near_dedup) don't re-execute
            # every earlier stage per subtree.
            obs = Observation()
            df = checkpoint(
                df.observe(obs, F.count(F.lit(1)).alias("rows")), eager=True
            )
            rows_out = int(obs.get["rows"])
            stage_metrics.append(
                DQRuleMetrics(
                    rule_name=f"{i}:{stage.stage}",
                    rule_type="corpus_stage",
                    action="filter",
                    total_count=rows_in,
                    valid_count=rows_out,
                    invalid_count=rows_in - rows_out,
                )
            )
            rows_in = rows_out
        rows = _counted_write(
            df, lambda d: self.ctx.table_format.overwrite(d, p.target_table)
        )
        self.ctx.dq_metrics.record(p.target_table, run_date, stage_metrics)
        self.ctx.dictionary.register(p.target_table, df)
        return rows


def _quality_filter(
    df: DataFrame, stage: CorpusStageConfig, text_col: str
) -> DataFrame:
    """Fused per-row quality filter, schema-preserving. Features are
    staged under ``_q_``-prefixed temp names so arbitrary user schemas
    can't collide."""
    qx = text_ops.quality_feature_exprs(
        F.col(text_col), text_ops.tokens(text_col)
    )
    staged = df.withColumns(
        {
            "_q_n_tokens": qx["n_tokens"],
            "_q_punct_ratio": qx["punct_ratio"],
            "_q_stop_ratio": qx["stop_ratio"],
        }
    )
    scored = staged.withColumn(
        "_q_score", text_ops.quality_score_expr("_q_")
    ).filter(
        (F.col("_q_score") >= stage.min_quality_score)
        & (F.col("_q_n_tokens") >= stage.min_tokens)
    )
    if stage.top_fraction is not None and stage.top_fraction < 1.0:
        # Fraction-based cut: keep the best top_fraction by score. The
        # cutoff is one exact-percentile aggregate (a scalar — cheap
        # second pass, no corpus-wide sort); ties at the cutoff are kept,
        # so the realized fraction can slightly exceed the request on
        # score-degenerate corpora (deterministic either way).
        cutoff = scored.agg(
            F.percentile("_q_score", F.lit(1.0 - stage.top_fraction)).alias(
                "c"
            )
        ).first()["c"]
        if cutoff is not None:
            scored = scored.filter(F.col("_q_score") >= cutoff)
    return scored.drop(
        "_q_n_tokens", "_q_punct_ratio", "_q_stop_ratio", "_q_score"
    )


def _repetition_filter(
    df: DataFrame, stage: CorpusStageConfig, text_col: str
) -> DataFrame:
    # bind the token array once and derive the bigram-shingle count FROM
    # it — a nested shingles(text) would re-run the regexp tokenizer per
    # row (same two-phase projection as workloads.corpus_clean_pipeline)
    staged = df.withColumn("_r_toks", text_ops.tokens(text_col))
    rx = text_ops.repetition_exprs(
        F.col("_r_toks"),
        F.size(dedup_ops.shingles_from_tokens(F.col("_r_toks"), 2)).cast(
            "long"
        ),
    )
    out = staged.withColumn(
        "_r_dup_bigram_frac", rx["dup_bigram_frac"]
    ).drop("_r_toks")
    if stage.max_dup_bigram_frac is not None:
        out = out.filter(
            F.col("_r_dup_bigram_frac").isNull()
            | (F.col("_r_dup_bigram_frac") < stage.max_dup_bigram_frac)
        )
    return out.drop("_r_dup_bigram_frac")


def _apply_stage(
    df: DataFrame,
    docs: DataFrame,
    stage: CorpusStageConfig,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Apply one stage, preserving ``df``'s schema (``split``, validated
    to be last, is the one stage that EXTENDS it). ``docs`` is the
    pipeline's ORIGINAL input (decontamination selects its eval set there,
    so a quality filter upstream can't accidentally shrink the eval set)."""
    if stage.stage == "quality_filter":
        return _quality_filter(df, stage, text_col)
    if stage.stage == "repetition_filter":
        return _repetition_filter(df, stage, text_col)
    if stage.stage == "decontaminate":
        eval_df = docs.filter(F.expr(stage.eval_filter))
        if stage.prefilter == "bloom":
            bad = decontam_ops.contaminated_ids_bloom(
                df, eval_df, text_col=text_col, id_col=id_col, n=stage.ngram
            )
        else:
            bad = decontam_ops.contaminated_ids(
                df, eval_df, text_col=text_col, id_col=id_col, n=stage.ngram
            )
        return df.filter(~F.expr(stage.eval_filter)).join(
            F.broadcast(bad), id_col, "left_anti"
        )
    if stage.stage == "span_dedup":
        spans = dedup_ops.span_dedup(
            df, text_col=text_col, id_col=id_col, span_tokens=stage.span_tokens
        ).select(id_col, "clean_text")
        return (
            df.join(spans, id_col)
            .withColumn(text_col, F.col("clean_text"))
            .drop("clean_text")
        )
    if stage.stage == "novelty_filter":
        # incremental-information screen: drop docs whose distinct-
        # trigram novelty rate (share of the doc's trigrams whose
        # global first claimant is this doc — text.trigram_novelty,
        # the ngram_novelty_by_source core) falls below the floor. A
        # doc with <3 tokens has no trigram slots → no evidence → KEPT
        # (the repetition_filter NULL convention). The low-novelty id
        # set can be corpus-sized, so the anti-join is a plain shuffle
        # equi-join on the id — never forced broadcast.
        per = text_ops.trigram_novelty(df, text_col=text_col, id_col=id_col)
        low = per.where(
            F.col("novel").cast("double") / F.col("slots").cast("double")
            < F.lit(stage.min_novelty)
        ).select(id_col)
        return df.join(low, id_col, "left_anti")
    if stage.stage == "split":
        from metadata_driven_etl_spark.operators.sampling import (
            split_by_group,
        )

        # the one schema-EXTENDING stage (config-validated to be last):
        # adds split_column, a pure function of the group key's hash, so
        # every row of a group (domain/cluster) lands in one split
        return split_by_group(
            df,
            stage.split_by,
            list(stage.splits),
            split_col=stage.split_column,
        )
    if stage.stage == "phrase_filter":
        # banned-phrase compliance screen: drop docs containing ANY of
        # the tokenized phrases (adjacency-exact, the phrase-search
        # machinery — substring LIKE both over- and under-matches
        # tokenized text). Matched-id sets are tiny vs the corpus →
        # broadcast anti-join; the postings pass inside phrase matching
        # is filtered to each phrase's tokens before any shuffle.
        phrase_tokens = [
            [t for t in re.split(r"[^a-z0-9]+", p.lower()) if t]
            for p in stage.phrases
        ]
        # ONE postings pass filtered to the union of all phrases'
        # tokens (tokenization is the dominant cost — a 20-phrase
        # blocklist must not tokenize the corpus 20 times), probed per
        # phrase against the shared frame.
        vocab = {t for toks in phrase_tokens for t in toks}
        postings = text_ops.build_postings(
            df, vocabulary=vocab, text_col=text_col, id_col=id_col
        )
        bad = None
        for toks in phrase_tokens:
            hits = text_ops.phrase_match_in_postings(
                postings, toks, id_col=id_col
            ).select(id_col)
            bad = hits if bad is None else bad.unionByName(hits)
        return df.join(
            F.broadcast(bad.distinct()), id_col, "left_anti"
        )
    if stage.stage == "sample_quota":
        from metadata_driven_etl_spark.operators.windows import (
            topk_per_group,
        )

        # exact min(k, |group|) rows per group by md5-of-id order:
        # uniform without replacement, reproducible, and partition-
        # independent; WindowGroupLimit keeps the shuffle O(groups·k).
        # Collision-safe rank name: the stage contract is schema-
        # preserving, and an input column named 'rank' must survive.
        return topk_per_group(
            df,
            [stage.quota_by],
            [
                F.asc(F.md5(F.col(id_col).cast("string"))),
                F.asc(id_col),
            ],
            stage.quota_k,
            rank_col="__quota_rank",
        ).drop("__quota_rank")
    if stage.stage == "token_budget":
        from metadata_driven_etl_spark.operators.sampling import (
            select_within_token_budget,
        )

        qx = text_ops.quality_feature_exprs(
            F.col(text_col), text_ops.tokens(text_col)
        )
        scored = df.select(
            F.col(id_col),
            qx["n_tokens"].alias("_q_n_tokens"),
            qx["punct_ratio"].alias("_q_punct_ratio"),
            qx["stop_ratio"].alias("_q_stop_ratio"),
        ).select(
            id_col,
            text_ops.quality_score_expr("_q_").alias("_score"),
            F.col("_q_n_tokens").alias("_n_tokens"),
        )
        kept = select_within_token_budget(
            scored,
            budget_tokens=stage.budget_tokens,
            score_col="_score",
            token_col="_n_tokens",
            id_col=id_col,
        ).select(id_col)
        return df.join(kept, id_col, "left_semi")
    if stage.stage == "near_dedup":
        if stage.method == "prefix":
            # exact all-pairs sweep (SSJoin/PPJoin prefix filtering):
            # every pair with Jaccard >= jaccard_threshold, no LSH
            # recall loss — the compliance-grade posture.
            pairs = dedup_ops.jaccard_prefix_pairs(
                df.select(F.col(id_col), F.col(text_col)),
                text_col=text_col,
                id_col=id_col,
                threshold=stage.jaccard_threshold,
            ).select("id_a", "id_b")
        else:
            # config knob -> operator cap: omitted = shipped default
            # (DEFAULT_MAX_BUCKET_SIZE), 0 = uncapped, >0 = explicit cap
            cap_kw = {}
            if stage.max_bucket_size is not None:
                cap_kw["max_bucket_size"] = (
                    stage.max_bucket_size if stage.max_bucket_size > 0 else None
                )
            pairs = dedup_ops.lsh_candidate_pairs(
                df.select(F.col(id_col), F.col(text_col)),
                text_col=text_col,
                id_col=id_col,
                **cap_kw,
            )
        clusters = dedup_ops.connected_components(
            df.select(id_col), pairs, id_col=id_col
        )
        if stage.keep == "first":
            keep_ids = clusters.filter(
                F.col(id_col) == F.col("cluster_id")
            ).select(id_col)
        else:  # best: highest token count, ties → lowest id
            scored = df.select(
                F.col(id_col),
                F.size(text_ops.tokens(text_col)).cast("long").alias(
                    "kept_score"
                ),
            )
            keep_ids = dedup_ops.keep_best_per_cluster(
                clusters, scored, id_col=id_col
            ).select(F.col(f"kept_{id_col}").alias(id_col))
        return df.join(keep_ids, id_col, "left_semi")
    if stage.stage == "semantic_dedup":
        return _semantic_dedup(df, stage, id_col, text_col)
    raise AssertionError(f"unreachable stage {stage.stage!r}")  # validated


def _semantic_dedup(
    df: DataFrame,
    stage: CorpusStageConfig,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """SemDeDup-shape semantic dedup as a declarable stage (the
    embedding-based sibling of ``near_dedup`` — catches paraphrases and
    re-encodings that text LSH misses; reuses the exact composition the
    ``semantic_dedup`` driver workload hash-checks): blocked cosine
    near-dup pairs over ``embedding_table`` → connected components →
    keep one document per semantic cluster.  Docs WITHOUT an embedding
    row are kept (no evidence to drop on), and the embedding frame is
    first semi-joined to the CURRENT survivors so upstream filters
    shrink pair generation rather than resurrect dropped docs.

    Scale: pair generation is the ``block_col``-blocked equi-join
    (sub-quadratic; at 100 TB the block id is an IVF coarse-quantizer
    assignment), CC iterates only edge-touched nodes, and the final
    drop is an anti join on the (small) non-keeper id set."""
    from metadata_driven_etl_spark.operators import similarity as sim_ops

    spark = df.sparkSession
    eid = stage.embedding_id_col or id_col
    emb_cols = [F.col(eid).alias(id_col), F.col(stage.embedding_col)] + (
        [F.col(stage.block_col)] if stage.block_col else []
    )
    # materialize once: the frame feeds pair-gen (both self-join sides)
    # and the CC vertex set — self-joined lineage gets no ReusedExchange
    emb = checkpoint(
        spark.table(stage.embedding_table)
        .select(*emb_cols)
        .join(df.select(id_col), id_col, "left_semi")
    )
    pairs = sim_ops.embedding_near_dup_pairs(
        emb,
        threshold=stage.threshold,
        id_col=id_col,
        vec_col=stage.embedding_col,
        block_col=stage.block_col,
    )
    clusters = dedup_ops.connected_components(
        emb.select(id_col), pairs, id_col=id_col
    )
    if stage.keep == "first":
        kept = clusters.filter(F.col(id_col) == F.col("cluster_id")).select(
            id_col
        )
    else:  # best: highest token count, ties → lowest id (near_dedup rule)
        scored = df.select(
            F.col(id_col),
            F.size(text_ops.tokens(text_col)).cast("long").alias(
                "kept_score"
            ),
        )
        kept = dedup_ops.keep_best_per_cluster(
            clusters, scored, id_col=id_col
        ).select(F.col(f"kept_{id_col}").alias(id_col))
    dropped = clusters.select(id_col).join(kept, id_col, "left_anti")
    return df.join(dropped, id_col, "left_anti")
