"""E2E tests for the metadata-driven corpus pipelines (plans/corpus.py):
YAML config → CorpusLayer → output table + per-stage survival metrics,
equivalent to composing the operators directly."""

from __future__ import annotations

import textwrap

import pytest
from pyspark.sql import functions as F

from metadata_driven_etl_spark.config.model import (
    ConfigError,
    CorpusConfig,
    load_corpus_config,
)
from metadata_driven_etl_spark.io.writer import ParquetFormat
from metadata_driven_etl_spark.plans.corpus import CorpusLayer
from metadata_driven_etl_spark.plans.pipeline import PipelineContext

SF_DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def ctx(spark):
    # Dedicated metadata tables: these tests deliberately log an ERROR
    # (error-isolation case), which must not leak into the default
    # metadata.etl_audit_log other e2e tests assert is clean.
    from metadata_driven_etl_spark.metadata.audit import AuditLogger
    from metadata_driven_etl_spark.metadata.control import ControlTable
    from metadata_driven_etl_spark.metadata.metrics import (
        DataDictionary,
        DQMetricsStore,
    )

    fmt = ParquetFormat()
    spark.sql("CREATE DATABASE IF NOT EXISTS metadata")
    return PipelineContext(
        spark=spark,
        table_format=fmt,
        control=ControlTable(spark, fmt, table="metadata.corpus_t_control"),
        audit=AuditLogger(spark, fmt, table="metadata.corpus_t_audit"),
        dq_metrics=DQMetricsStore(spark, fmt, table="metadata.corpus_t_dq"),
        dictionary=DataDictionary(spark, fmt, table="metadata.corpus_t_dict"),
    )


def _write_config(tmp_path, body: str) -> str:
    p = tmp_path / "corpus_config.yaml"
    p.write_text(textwrap.dedent(body))
    return str(p)


@pytest.mark.slow
def test_full_pipeline_matches_direct_composition(ctx, tmp_path):
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: clean_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_clean_v1
                stages:
                  - stage: quality_filter
                    min_quality_score: 0.55
                    min_tokens: 5
                  - stage: repetition_filter
                    max_dup_bigram_frac: 0.5
                  - stage: decontaminate
                    eval_filter: "source = 'src0'"
                    ngram: 4
                  - stage: near_dedup
                    keep: best
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_clean_v1")
    # schema preserved from the input documents table
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns

    # equivalence with the directly-composed flagship workload's survivor
    # set: corpus_clean_pipeline keeps best per cluster over the same
    # filters, so its kept_doc_id set must equal our output ids
    from metadata_driven_etl_spark import workloads

    flagship = workloads.QUERIES["corpus_clean_pipeline"](
        ctx.spark, "/root/testdata/sf0.001"
    )
    want = {r.kept_doc_id for r in flagship.collect()}
    got = {r.doc_id for r in out.collect()}
    assert got == want and len(got) > 0

    # per-stage survival metrics recorded, monotone non-increasing
    hist = (
        ctx.dq_metrics.history("corpus.t_clean_v1")
        .filter(F.col("rule_type") == "corpus_stage")
        .collect()
    )
    by_stage = {r.rule_name: r for r in hist}
    assert set(by_stage) == {
        "0:quality_filter",
        "1:repetition_filter",
        "2:decontaminate",
        "3:near_dedup",
    }
    chain = [by_stage[k] for k in sorted(by_stage)]
    for prev, cur in zip(chain, chain[1:]):
        assert cur.total_count == prev.valid_count  # stages chain
    assert chain[-1].valid_count == len(got)


def test_span_stage_rewrites_text_in_place(ctx, tmp_path):
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: span_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_span_v1
                stages:
                  - stage: span_dedup
                    span_tokens: 20
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_span_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns

    from metadata_driven_etl_spark.operators.dedup import span_dedup

    want = {
        (r.doc_id, r.clean_text)
        for r in span_dedup(docs, span_tokens=20).collect()
    }
    got = {(r.doc_id, r.text) for r in out.collect()}
    assert got == want and len(got) > 0


def test_shipped_example_config_loads_and_validates():
    cfg = load_corpus_config("/root/repo/configs/corpus_config.yaml")
    assert {p.pipeline_id for p in cfg.pipelines} == {
        "clean_web_v1",
        "span_clean_v1",
        "clean_exact_budget_v1",
    }
    # the compliance-grade example (VERDICT r10 item 5) carries the
    # exact-sweep knob at the documented near-dup regime
    exact = {p.pipeline_id: p for p in cfg.pipelines}[
        "clean_exact_budget_v1"
    ]
    assert [s.stage for s in exact.stages] == [
        "quality_filter", "near_dedup", "token_budget",
    ]
    assert exact.stages[1].method == "prefix"
    assert exact.stages[1].jaccard_threshold == 0.7


@pytest.mark.slow
def test_shipped_exact_budget_pipeline_matches_composition(ctx):
    """VERDICT r10 item 5: the SHIPPED clean_exact_budget_v1 pipeline
    (quality floor → EXACT prefix-filter near-dup keep-best → token
    budget) produces exactly the survivors of composing the operators
    directly — the YAML ≡ composition contract on a config users can
    copy, not just on test-local YAML."""
    import dataclasses

    from metadata_driven_etl_spark.operators import text as text_ops
    from metadata_driven_etl_spark.operators.dedup import (
        connected_components,
        jaccard_prefix_pairs,
        keep_best_per_cluster,
    )
    from metadata_driven_etl_spark.operators.sampling import (
        select_within_token_budget,
    )

    full = load_corpus_config("/root/repo/configs/corpus_config.yaml")
    target = [
        p for p in full.pipelines
        if p.pipeline_id == "clean_exact_budget_v1"
    ]
    cfg = dataclasses.replace(full, pipelines=tuple(target))
    results = CorpusLayer(ctx, cfg).run("2026-08-16")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.clean_exact_budget_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns
    got = {r.doc_id for r in out.collect()}

    # stage 1: quality floor
    q = text_ops.quality_features(docs)
    s1 = docs.join(
        q.filter(
            (F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 5)
        ).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    # stage 2: exact prefix-filter near-dup, keep best (token count,
    # ties -> lowest id)
    pairs = jaccard_prefix_pairs(
        s1.select("doc_id", "text"), threshold=0.7
    ).select("id_a", "id_b")
    clusters = connected_components(s1.select("doc_id"), pairs)
    scored = s1.select(
        "doc_id",
        F.size(text_ops.tokens("text")).cast("long").alias("kept_score"),
    )
    keep = keep_best_per_cluster(clusters, scored).select(
        F.col("kept_doc_id").alias("doc_id")
    )
    s2 = s1.join(keep, "doc_id", "left_semi")
    # stage 3: greedy token budget over the survivors
    qx2 = text_ops.quality_features(s2)
    kept3 = select_within_token_budget(
        qx2.select(
            "doc_id",
            F.col("quality_score").alias("_score"),
            F.col("n_tokens").alias("_n_tokens"),
        ),
        budget_tokens=5000,
        score_col="_score",
        token_col="_n_tokens",
        id_col="doc_id",
    )
    want = {r.doc_id for r in kept3.collect()}
    assert got == want and 0 < len(got) < docs.count()


@pytest.mark.parametrize(
    "body,msg",
    [
        (
            """
            corpus_pipelines:
              - pipeline_id: bad1
                input_path: "/x"
                target_table: t
                stages: [{stage: nonsense}]
            """,
            "invalid stage",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad2
                input_path: "/x"
                target_table: t
                stages: [{stage: decontaminate}]
            """,
            "needs eval_filter",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad3
                input_path: "/x"
                target_table: t
                stages: [{stage: near_dedup, keep: newest}]
            """,
            "keep must be one of",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad4
                input_path: "/x"
                input_table: also_t
                target_table: t
                stages: [{stage: span_dedup}]
            """,
            "exactly one of",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad_cap
                input_path: "/x"
                target_table: t
                stages: [{stage: near_dedup, max_bucket_size: -3}]
            """,
            "max_bucket_size",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad_cap_stage
                input_path: "/x"
                target_table: t
                stages: [{stage: span_dedup, max_bucket_size: 8}]
            """,
            "only applies to",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad5
                input_path: "/x"
                target_table: t
                stages: []
            """,
            "at least one stage",
        ),
    ],
)
def test_invalid_configs_fail_fast(tmp_path, body, msg):
    import yaml

    with pytest.raises(ConfigError, match=msg):
        CorpusConfig.from_dict(yaml.safe_load(textwrap.dedent(body)))


def test_error_isolation_between_pipelines(ctx, tmp_path):
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: will_fail
                input_path: "/nonexistent/nowhere.parquet"
                target_table: corpus.t_nope
                stages: [{{stage: span_dedup}}]
              - pipeline_id: will_pass
                input_path: "{SF_DOCS}"
                target_table: corpus.t_iso_ok
                stages: [{{stage: quality_filter, min_tokens: 1}}]
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["error", "success"]
    assert ctx.spark.table("corpus.t_iso_ok").count() > 0


@pytest.mark.slow
def test_cli_runs_corpus_layer(spark, tmp_path):
    """`--layers corpus` drives corpus_config.yaml through the same
    orchestration entry as the ETL layers."""
    import shutil

    from metadata_driven_etl_spark.plans.runner import run_pipeline

    cfg_dir = tmp_path / "cfg"
    cfg_dir.mkdir()
    shutil.copy("/root/repo/configs/corpus_config.yaml", cfg_dir)
    results = run_pipeline(
        spark, str(cfg_dir), "2026-08-13", ["corpus"],
        table_format=ParquetFormat(),
    )
    assert set(results) == {"corpus"}
    assert [r.status for r in results["corpus"]] == ["success"] * 3
    assert spark.table("corpus.clean_web_v1").count() > 0
    assert spark.table("corpus.span_clean_v1").count() > 0
    assert spark.table("corpus.clean_exact_budget_v1").count() > 0


def test_quality_top_fraction_cut(ctx, tmp_path):
    """top_fraction keeps the best-scoring fraction (ties at the cutoff
    included), on top of any absolute thresholds."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: topfrac_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_topfrac_v1
                stages:
                  - stage: quality_filter
                    top_fraction: 0.5
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_topfrac_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    n_in, n_out = docs.count(), out.count()
    assert 0 < n_out <= n_in
    assert n_out >= int(0.5 * n_in)  # at least the fraction (ties kept)

    # every kept doc scores >= every dropped doc
    from metadata_driven_etl_spark.operators.text import quality_features

    scores = {r.doc_id: r.quality_score for r in quality_features(docs).collect()}
    kept = {r.doc_id for r in out.collect()}
    worst_kept = min(scores[i] for i in kept)
    dropped = set(scores) - kept
    assert not dropped or max(scores[i] for i in dropped) <= worst_kept


def test_top_fraction_rejected_outside_quality_filter():
    import yaml

    with pytest.raises(ConfigError, match="top_fraction"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages: [{stage: span_dedup, top_fraction: 0.5}]
                    """
                )
            )
        )


@pytest.mark.slow
def test_near_dedup_keep_first_and_table_input(ctx, tmp_path):
    """keep: first retains the lowest-id member per near-dup cluster, and
    input_table (vs input_path) resolves through the catalog."""
    docs = ctx.spark.read.parquet(SF_DOCS)
    ParquetFormat().overwrite(docs, "corpus.t_kf_input")
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            """
            corpus_pipelines:
              - pipeline_id: kf_v1
                input_table: corpus.t_kf_input
                target_table: corpus.t_kf_out
                stages:
                  - stage: near_dedup
                    keep: first
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["success"]
    got = {r.doc_id for r in ctx.spark.table("corpus.t_kf_out").collect()}

    from metadata_driven_etl_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    pairs = lsh_candidate_pairs(docs.select("doc_id", "text"))
    clusters = connected_components(docs.select("doc_id"), pairs)
    want = {
        r.doc_id
        for r in clusters.filter(F.col("doc_id") == F.col("cluster_id")).collect()
    }
    assert got == want and 0 < len(got) <= docs.count()


@pytest.mark.slow
def test_near_dedup_max_bucket_size_knob(ctx, tmp_path):
    """The LSH bucket cap is configurable per near_dedup stage: 0 =
    uncapped, omitted = operator default. On the organic test corpus the
    default cap never bites, so both settings keep identical survivors —
    and the parsed config carries the knob through to the stage."""
    docs = ctx.spark.read.parquet(SF_DOCS)
    ParquetFormat().overwrite(docs, "corpus.t_cap_input")
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            """
            corpus_pipelines:
              - pipeline_id: cap_v1
                input_table: corpus.t_cap_input
                target_table: corpus.t_cap_out
                stages:
                  - stage: near_dedup
                    keep: first
                    max_bucket_size: 0
            """,
        )
    )
    stage = cfg.pipelines[0].stages[0]
    assert stage.max_bucket_size == 0
    results = CorpusLayer(ctx, cfg).run("2026-08-14")
    assert [r.status for r in results] == ["success"]
    uncapped = {
        r.doc_id for r in ctx.spark.table("corpus.t_cap_out").collect()
    }

    from metadata_driven_etl_spark.operators.dedup import (
        connected_components,
        lsh_candidate_pairs,
    )

    pairs = lsh_candidate_pairs(docs.select("doc_id", "text"))  # default cap
    clusters = connected_components(docs.select("doc_id"), pairs)
    want = {
        r.doc_id
        for r in clusters.filter(F.col("doc_id") == F.col("cluster_id")).collect()
    }
    assert uncapped == want and uncapped


def test_dry_run_validates_without_spark(tmp_path, capsys):
    import shutil

    from metadata_driven_etl_spark.plans.runner import dry_run

    cfg_dir = tmp_path / "cfg"
    cfg_dir.mkdir()
    shutil.copy("/root/repo/configs/corpus_config.yaml", cfg_dir)
    assert dry_run(str(cfg_dir), ["bronze", "corpus"]) == 0
    out = capsys.readouterr().out
    assert "clean_web_v1" in out and "quality_filter -> " in out

    (cfg_dir / "corpus_config.yaml").write_text(
        "corpus_pipelines:\n"
        "  - pipeline_id: bad\n"
        "    input_path: /x\n"
        "    target_table: t\n"
        "    stages: [{stage: nonsense}]\n"
    )
    assert dry_run(str(cfg_dir), ["corpus"]) == 1
    assert "INVALID" in capsys.readouterr().out


def test_pipeline_survives_empty_intermediate(ctx, tmp_path):
    """A stage dropping every row must not break later stages (near_dedup
    clusters an empty frame) or the final write — the output table exists
    and is empty."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: empty_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_empty_v1
                stages:
                  - stage: quality_filter
                    min_quality_score: 1.1
                  - stage: repetition_filter
                    max_dup_bigram_frac: 0.5
                  - stage: near_dedup
                    keep: best
                  - stage: span_dedup
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["success"]
    assert ctx.spark.table("corpus.t_empty_v1").count() == 0


def test_stage_counts_cost_one_job_per_boundary(ctx, tmp_path, spark_jobs):
    """Each stage boundary's eager checkpoint also counts the stage's
    survivors, and the next stage takes that count as its rows in: only
    the input is counted on its own. This 3-stage pipeline of map-only
    stages runs 10 Spark jobs: 3 to read and count the input, one
    checkpoint per stage, the write and the DQ metrics, dictionary and
    audit commits. A count before and after each checkpoint made it 20."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: counted_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_counted_v1
                stages:
                  - stage: quality_filter
                    min_tokens: 3
                  - stage: repetition_filter
                    max_dup_bigram_frac: 0.5
                  - stage: split
                    split_by: source
                    splits:
                      - {{name: train, weight: 0.9}}
                      - {{name: test, weight: 0.1}}
            """,
        )
    )
    with spark_jobs() as jobs:
        [result] = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert result.status == "success"
    chain = sorted(
        ctx.dq_metrics.history("corpus.t_counted_v1")
        .filter(F.col("rule_type") == "corpus_stage")
        .collect(),
        key=lambda r: r.rule_name,
    )
    assert [r.rule_name for r in chain] == [
        "0:quality_filter", "1:repetition_filter", "2:split",
    ]
    assert chain[0].total_count == ctx.spark.read.parquet(SF_DOCS).count()
    for prev, cur in zip(chain, chain[1:]):
        assert cur.total_count == prev.valid_count
    assert chain[-1].valid_count == result.rows
    assert jobs() <= 10


def test_token_budget_stage(ctx, tmp_path):
    """The token_budget stage keeps the greedy best-by-quality prefix
    within the budget, schema-preserving."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: budget_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_budget_v1
                stages:
                  - stage: token_budget
                    budget_tokens: 2000
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-13")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_budget_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns

    from metadata_driven_etl_spark.operators.text import tokens

    picked = out.select(
        F.sum(F.size(tokens("text"))).alias("toks")
    ).first().toks
    assert 0 < picked <= 2000
    # exact greedy expectation: best score first (ties → lowest id),
    # strict prefix within budget
    from metadata_driven_etl_spark.operators.text import quality_features

    scores = {
        r.doc_id: r.quality_score for r in quality_features(docs).collect()
    }
    kept = {r.doc_id for r in out.collect()}
    ordered = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    toks = {
        r.doc_id: r.n_tokens
        for r in quality_features(docs).select("doc_id", "n_tokens").collect()
    }
    cum, expect = 0, set()
    for d, _s in ordered:
        cum += toks[d]
        if cum > 2000:
            break
        expect.add(d)
    assert kept == expect


def test_token_budget_validation():
    import yaml

    with pytest.raises(ConfigError, match="budget_tokens"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages: [{stage: token_budget}]
                    """
                )
            )
        )


@pytest.mark.slow
def test_decontaminate_bloom_prefilter_knob(ctx, tmp_path):
    """prefilter: bloom must parse through to the stage and produce
    EXACTLY the survivors of the plain broadcast path (the Bloom bitmap
    only prefilters; the exact confirm join fixes false positives)."""
    docs = ctx.spark.read.parquet(SF_DOCS)
    ParquetFormat().overwrite(docs, "corpus.t_bloom_input")

    def run(pid, target, prefilter_line):
        cfg = load_corpus_config(
            _write_config(
                tmp_path,
                f"""
                corpus_pipelines:
                  - pipeline_id: {pid}
                    input_table: corpus.t_bloom_input
                    target_table: {target}
                    stages:
                      - stage: decontaminate
                        eval_filter: "source = 'src0'"
                        ngram: 4
                        {prefilter_line}
                """,
            )
        )
        results = CorpusLayer(ctx, cfg).run("2026-08-14")
        assert [r.status for r in results] == ["success"]
        return {r.doc_id for r in ctx.spark.table(target).collect()}

    plain = run("dc_plain", "corpus.t_bloom_plain", "")
    bloom = run("dc_bloom", "corpus.t_bloom_out", "prefilter: bloom")
    cfg_check = load_corpus_config(
        _write_config(
            tmp_path,
            """
            corpus_pipelines:
              - pipeline_id: dc_parse
                input_table: corpus.t_bloom_input
                target_table: corpus.t_bloom_parse
                stages:
                  - stage: decontaminate
                    eval_filter: "source = 'src0'"
                    prefilter: bloom
            """,
        )
    )
    assert cfg_check.pipelines[0].stages[0].prefilter == "bloom"
    assert bloom == plain and bloom


def test_prefilter_rejected_outside_decontaminate(tmp_path):
    with pytest.raises(ConfigError, match="prefilter"):
        load_corpus_config(
            _write_config(
                tmp_path,
                """
                corpus_pipelines:
                  - pipeline_id: bad_pf
                    input_table: corpus.x
                    target_table: corpus.y
                    stages: [{stage: span_dedup, prefilter: bloom}]
                """,
            )
        )
    with pytest.raises(ConfigError, match="prefilter"):
        load_corpus_config(
            _write_config(
                tmp_path,
                """
                corpus_pipelines:
                  - pipeline_id: bad_pf2
                    input_table: corpus.x
                    target_table: corpus.y
                    stages:
                      - stage: decontaminate
                        eval_filter: "source = 'src0'"
                        prefilter: cuckoo
                """,
            )
        )


def test_split_stage_assigns_groups_and_must_be_last(ctx, tmp_path):
    """The split stage adds the split column as the LAST stage: groups are
    pure (one split per source), survival metrics show no row loss, and a
    config with split before another stage fails fast."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: split_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_split_v1
                stages:
                  - stage: quality_filter
                    min_tokens: 3
                  - stage: split
                    split_by: source
                    splits:
                      - {{name: train, weight: 0.8}}
                      - {{name: valid, weight: 0.1}}
                      - {{name: test, weight: 0.1}}
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-14")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_split_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns + ["split"]
    impure = (
        out.groupBy("source")
        .agg(F.countDistinct("split").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    assert impure == 0
    assert {r.split for r in out.select("split").distinct().collect()} <= {
        "train", "valid", "test"
    }
    hist = (
        ctx.dq_metrics.history("corpus.t_split_v1")
        .filter(F.col("rule_type") == "corpus_stage")
        .collect()
    )
    split_row = {r.rule_name: r for r in hist}["1:split"]
    assert split_row.invalid_count == 0  # assignment drops nothing

    # split not last / malformed weights / stray fields fail fast
    for body, msg in [
        (
            """
            corpus_pipelines:
              - pipeline_id: bad_split_pos
                input_path: "{docs}"
                target_table: corpus.x
                stages:
                  - stage: split
                    split_by: source
                    splits: [{{name: a, weight: 1.0}}]
                  - stage: quality_filter
            """,
            "last stage",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad_split_w
                input_path: "{docs}"
                target_table: corpus.x
                stages:
                  - stage: split
                    split_by: source
                    splits: [{{name: a, weight: 0.6}}]
            """,
            "summing to 1",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad_split_field
                input_path: "{docs}"
                target_table: corpus.x
                stages:
                  - stage: quality_filter
                    split_by: source
            """,
            "only apply to",
        ),
    ]:
        with pytest.raises(Exception, match=msg):
            load_corpus_config(
                _write_config(tmp_path, body.format(docs=SF_DOCS))
            )


def test_semantic_dedup_stage(ctx, tmp_path):
    """semantic_dedup as a declarable stage (VERDICT r5 item 4): YAML ≡
    the direct embedding_near_dup_pairs → CC → keep-first composition,
    and docs without an embedding row are kept."""
    spark = ctx.spark
    docs = spark.read.parquet(SF_DOCS)
    doc_ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    # even docs get an exact per-label duplicate embedding (label =
    # doc_id % 10, one-hot base vector); odd docs have NO embedding row
    even = [i for i in doc_ids if i % 2 == 0]
    emb_rows = [
        (i, [1.0 if d == i % 10 else 0.0 for d in range(10)], i % 10)
        for i in even
    ]
    emb = spark.createDataFrame(
        emb_rows, "doc_id: long, embedding: array<float>, label: int"
    )
    ParquetFormat().overwrite(emb, "corpus.t_sem_emb")
    ParquetFormat().overwrite(docs, "corpus.t_sem_input")
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            """
            corpus_pipelines:
              - pipeline_id: sem_v1
                input_table: corpus.t_sem_input
                target_table: corpus.t_sem_out
                stages:
                  - stage: semantic_dedup
                    embedding_table: corpus.t_sem_emb
                    threshold: 0.99
                    keep: first
            """,
        )
    )
    stage = cfg.pipelines[0].stages[0]
    assert stage.embedding_table == "corpus.t_sem_emb"
    assert stage.block_col == "label" and stage.threshold == 0.99
    results = CorpusLayer(ctx, cfg).run("2026-08-14")
    assert [r.status for r in results] == ["success"]
    got = {r.doc_id for r in ctx.spark.table("corpus.t_sem_out").collect()}

    # exact-duplicate vectors per label -> one cluster per label; keep
    # the lowest id; odd docs (no embedding) all survive
    odd = {i for i in doc_ids if i % 2 == 1}
    keep_even = {
        min(i for i in even if i % 10 == lbl) for lbl in {i % 10 for i in even}
    }
    assert got == odd | keep_even


def test_semantic_dedup_validation(tmp_path):
    import yaml

    def load(body):
        return CorpusConfig.from_dict(yaml.safe_load(textwrap.dedent(body)))

    with pytest.raises(ConfigError):  # missing embedding_table
        load(
            """
            corpus_pipelines:
              - pipeline_id: p
                input_table: t
                target_table: o
                stages:
                  - stage: semantic_dedup
            """
        )
    with pytest.raises(ConfigError):  # threshold out of range
        load(
            """
            corpus_pipelines:
              - pipeline_id: p
                input_table: t
                target_table: o
                stages:
                  - stage: semantic_dedup
                    embedding_table: e
                    threshold: 1.5
            """
        )
    with pytest.raises(ConfigError):  # embedding knobs outside the stage
        load(
            """
            corpus_pipelines:
              - pipeline_id: p
                input_table: t
                target_table: o
                stages:
                  - stage: near_dedup
                    embedding_table: e
            """
        )


@pytest.mark.slow
def test_near_dedup_method_prefix(ctx, tmp_path):
    """method: prefix swaps the LSH candidate generator for the EXACT
    prefix-filter join — YAML output ≡ composing jaccard_prefix_pairs +
    connected_components directly, and the knobs parse through."""
    docs = ctx.spark.read.parquet(SF_DOCS)
    ParquetFormat().overwrite(docs, "corpus.t_pfx_input")
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            """
            corpus_pipelines:
              - pipeline_id: pfx_v1
                input_table: corpus.t_pfx_input
                target_table: corpus.t_pfx_out
                stages:
                  - stage: near_dedup
                    keep: first
                    method: prefix
                    jaccard_threshold: 0.25
            """,
        )
    )
    stage = cfg.pipelines[0].stages[0]
    assert stage.method == "prefix"
    assert stage.jaccard_threshold == 0.25
    results = CorpusLayer(ctx, cfg).run("2026-08-15")
    assert [r.status for r in results] == ["success"]
    got = {r.doc_id for r in ctx.spark.table("corpus.t_pfx_out").collect()}

    from metadata_driven_etl_spark.operators.dedup import (
        connected_components,
        jaccard_prefix_pairs,
    )

    pairs = jaccard_prefix_pairs(
        docs.select("doc_id", "text"), threshold=0.25
    ).select("id_a", "id_b")
    clusters = connected_components(docs.select("doc_id"), pairs)
    want = {
        r.doc_id
        for r in clusters.filter(F.col("doc_id") == F.col("cluster_id")).collect()
    }
    assert got == want and 0 < len(got) <= docs.count()


def test_near_dedup_prefix_default_threshold_is_near_dup_regime(tmp_path):
    """method=prefix with no explicit jaccard_threshold defaults to the
    documented near-dup regime (0.7), NOT the degenerate low-t sweep —
    the measured t=0.25 run produced ~10M candidates for 25 true pairs
    (ADVICE r6); a user enabling prefix without a threshold must get the
    safe posture."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            """
            corpus_pipelines:
              - pipeline_id: pfx_default
                input_path: /tmp/x.parquet
                target_table: corpus.t
                stages:
                  - stage: near_dedup
                    method: prefix
            """,
        )
    )
    assert cfg.pipelines[0].stages[0].jaccard_threshold == 0.7


def test_near_dedup_method_validation(tmp_path):
    """method/jaccard_threshold knobs fail fast when misused: unknown
    method, cap with method=prefix, knobs outside near_dedup."""
    bad = [
        (
            """
            corpus_pipelines:
              - pipeline_id: bad1
                input_path: /tmp/x.parquet
                target_table: corpus.t
                stages:
                  - stage: near_dedup
                    method: simhash
            """,
            "method must be 'lsh' or 'prefix'",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad2
                input_path: /tmp/x.parquet
                target_table: corpus.t
                stages:
                  - stage: near_dedup
                    method: prefix
                    max_bucket_size: 32
            """,
            "max_bucket_size is an LSH knob",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad3
                input_path: /tmp/x.parquet
                target_table: corpus.t
                stages:
                  - stage: span_dedup
                    method: prefix
            """,
            "only apply to near_dedup",
        ),
        (
            """
            corpus_pipelines:
              - pipeline_id: bad4
                input_path: /tmp/x.parquet
                target_table: corpus.t
                stages:
                  - stage: near_dedup
                    method: lsh
                    jaccard_threshold: 0.5
            """,
            "only applies to method=prefix",
        ),
    ]
    for body, msg in bad:
        with pytest.raises(ConfigError, match=msg):
            load_corpus_config(_write_config(tmp_path, body))


def test_sample_quota_stage(ctx, tmp_path):
    """The sample_quota stage keeps exactly min(k, |group|) docs per
    group by md5-of-id order, schema-preserving, and matches the direct
    operator composition (the declarable form of
    sample_fixed_quota_per_group)."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: quota_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_quota_v1
                stages:
                  - stage: sample_quota
                    quota_by: source
                    quota_k: 3
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-15")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_quota_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns

    # exact per-group counts
    sizes = {
        r.source: r.n
        for r in docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    got = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert got == {s: min(3, n) for s, n in sizes.items()}

    # ≡ direct composition
    from metadata_driven_etl_spark.operators.windows import topk_per_group

    expect = {
        r.doc_id
        for r in topk_per_group(
            docs,
            ["source"],
            [F.asc(F.md5(F.col("doc_id").cast("string"))), F.asc("doc_id")],
            3,
        ).collect()
    }
    assert {r.doc_id for r in out.collect()} == expect


def test_sample_quota_validation(tmp_path):
    import yaml

    with pytest.raises(ConfigError, match="sample_quota"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages: [{stage: sample_quota, quota_by: source}]
                    """
                )
            )
        )
    with pytest.raises(ConfigError, match="quota_by/quota_k"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad2
                        input_path: "/x"
                        target_table: t
                        stages:
                          - {stage: quality_filter, quota_k: 5}
                    """
                )
            )
        )


def test_phrase_filter_stage(ctx, tmp_path):
    """phrase_filter drops exactly the docs containing any banned
    tokenized phrase (adjacency-exact), schema-preserving."""
    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: blocklist_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_blocklist_v1
                stages:
                  - stage: phrase_filter
                    phrases: ["table table", "spark window"]
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-15")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_blocklist_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns

    # exact expectation from tokenized adjacency
    import re as _re

    def has_phrase(text, phrase):
        toks = [t for t in _re.split(r"[^a-z0-9]+", text.lower()) if t]
        p = phrase.split()
        return any(
            toks[i : i + len(p)] == p for i in range(len(toks) - len(p) + 1)
        )

    raw = {r.doc_id: r.text for r in docs.collect()}
    expect = {
        d
        for d, t in raw.items()
        if not (has_phrase(t, "table table") or has_phrase(t, "spark window"))
    }
    got = {r.doc_id for r in out.collect()}
    assert got == expect
    assert len(expect) < len(raw), "blocklist must bite on the test corpus"


def test_phrase_filter_validation(tmp_path):
    import yaml

    with pytest.raises(ConfigError, match="phrase_filter"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages: [{stage: phrase_filter, phrases: []}]
                    """
                )
            )
        )
    with pytest.raises(ConfigError, match="phrases only"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad2
                        input_path: "/x"
                        target_table: t
                        stages:
                          - {stage: quality_filter, phrases: ["x y"]}
                    """
                )
            )
        )


def test_novelty_filter_stage(ctx, tmp_path):
    """novelty_filter drops exactly the docs whose distinct-trigram
    novelty rate is below the floor (YAML == direct composition);
    schema-preserving; too-short docs are kept."""
    from metadata_driven_etl_spark.operators import text as text_ops

    cfg = load_corpus_config(
        _write_config(
            tmp_path,
            f"""
            corpus_pipelines:
              - pipeline_id: novelty_v1
                input_path: "{SF_DOCS}"
                target_table: corpus.t_novelty_v1
                stages:
                  - stage: novelty_filter
                    min_novelty: 0.5
            """,
        )
    )
    results = CorpusLayer(ctx, cfg).run("2026-08-15")
    assert [r.status for r in results] == ["success"]
    out = ctx.spark.table("corpus.t_novelty_v1")
    docs = ctx.spark.read.parquet(SF_DOCS)
    assert out.columns == docs.columns

    # direct composition: keep docs with rate >= 0.5 OR no trigram slots
    per = text_ops.trigram_novelty(docs, text_col="text", id_col="doc_id")
    rates = {
        r.doc_id: r.novel / r.slots for r in per.collect() if r.slots
    }
    all_ids = {r.doc_id for r in docs.select("doc_id").collect()}
    expect = {
        d for d in all_ids if d not in rates or rates[d] >= 0.5
    }
    got = {r.doc_id for r in out.collect()}
    assert got == expect
    assert len(expect) < len(all_ids), (
        "the floor must bite on the test corpus"
    )

    # survival metrics recorded for the stage
    dqm = ctx.spark.table("metadata.corpus_t_dq").filter(
        "rule_name like '%novelty_filter%'"
    )
    assert dqm.count() >= 1


def test_novelty_filter_validation(tmp_path):
    import yaml

    # missing min_novelty
    with pytest.raises(ConfigError, match="min_novelty"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages:
                          - stage: novelty_filter
                    """
                )
            )
        )
    # out of range
    with pytest.raises(ConfigError, match="min_novelty"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages:
                          - stage: novelty_filter
                            min_novelty: 1.5
                    """
                )
            )
        )
    # min_novelty on another stage is rejected
    with pytest.raises(ConfigError, match="min_novelty"):
        CorpusConfig.from_dict(
            yaml.safe_load(
                textwrap.dedent(
                    """
                    corpus_pipelines:
                      - pipeline_id: bad
                        input_path: "/x"
                        target_table: t
                        stages:
                          - stage: quality_filter
                            min_novelty: 0.5
                    """
                )
            )
        )
