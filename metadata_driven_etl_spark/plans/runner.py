"""Pipeline orchestration CLI (reference scripts/run_etl_pipeline.py, M11).

``python -m metadata_driven_etl_spark.plans.runner --date 2024-01-15
--layers bronze,silver,gold --config-dir configs/``

Differences from the reference: non-destructive metadata bootstrap, one
shared PipelineContext (one run_id across layers), per-layer wall-clock
recorded into the audit log (the reference only prints it).
"""

from __future__ import annotations

import argparse
import sys
import time
from datetime import date

import os

from metadata_driven_etl_spark.config.model import (
    load_config_dir,
    load_corpus_config,
)
from metadata_driven_etl_spark.io.writer import get_table_format
from metadata_driven_etl_spark.plans.pipeline import (
    BronzeLayer,
    GoldLayer,
    PipelineContext,
    SilverLayer,
    UnitResult,
)
from metadata_driven_etl_spark.session import get_spark

LAYER_CLASSES = {"bronze": BronzeLayer, "silver": SilverLayer, "gold": GoldLayer}


def run_pipeline(
    spark,
    config_dir: str,
    run_date: str,
    layers: list[str],
    table_format=None,
) -> dict[str, list[UnitResult]]:
    configs = load_config_dir(config_dir)
    ctx = PipelineContext(
        spark=spark, table_format=table_format or get_table_format()
    )
    results: dict[str, list[UnitResult]] = {}
    try:
        for layer in layers:
            if layer == "corpus":
                # corpus pipelines live in their own config file/model (the
                # training-data counterpart of the ETL layers)
                cpath = os.path.join(config_dir, "corpus_config.yaml")
                if not os.path.exists(cpath):
                    continue
                from metadata_driven_etl_spark.plans.corpus import CorpusLayer

                layer_cls, layer_cfg = CorpusLayer, load_corpus_config(cpath)
            elif layer in configs:
                layer_cls, layer_cfg = LAYER_CLASSES[layer], configs[layer]
            else:
                continue
            t0 = time.perf_counter()
            ctx.audit.log_start(layer, "layer_run", f"{layer}_layer")
            layer_results = layer_cls(ctx, layer_cfg).run(run_date)
            results[layer] = layer_results
            secs = round(time.perf_counter() - t0, 3)
            rows = sum(r.rows for r in layer_results)
            errs = [r for r in layer_results if r.status == "error"]
            if errs:
                ctx.audit.log_error(
                    layer, "layer_run", f"{layer}_layer",
                    f"{len(errs)} unit(s) failed: {[r.unit_id for r in errs]}",
                    secs,
                )
            else:
                ctx.audit.log_success(
                    layer, "layer_run", f"{layer}_layer", secs, rows_processed=rows
                )
            print(
                f"[{layer}] {len(layer_results)} unit(s), {rows} rows, "
                f"{len(errs)} error(s), {secs:.1f}s"
            )
    finally:
        ctx.audit.flush()  # the last layer_run row
    return results


def run_backfill(
    spark,
    config_dir: str,
    start_date: str,
    end_date: str,
    layers: list[str],
    table_format=None,
) -> dict[str, dict[str, list[UnitResult]]]:
    """Re-run the pipeline for every date in [start_date, end_date].

    The reference can only run one date per invocation (M11); backfills are
    the common operational need after an outage or a logic fix. Correct
    re-runs come for free from the engine's semantics: bronze incremental
    extracts are bounded on BOTH sides (strictly after the control table's
    last run date, through the run date — so future-dated rows are never
    pulled early and re-pulled later), bronze full extracts replace their
    own source_id partition instead of re-appending (or clobbering
    sibling sources fanning into the same table), silver incremental overwrites
    only the partitions each run produces, gold MERGEs on primary keys —
    so replaying a date range neither duplicates nor loses rows.
    """
    from datetime import timedelta

    d0, d1 = date.fromisoformat(start_date), date.fromisoformat(end_date)
    if d1 < d0:
        raise ValueError("end_date must be >= start_date")
    out: dict[str, dict[str, list[UnitResult]]] = {}
    d = d0
    while d <= d1:
        run_date = d.isoformat()
        out[run_date] = run_pipeline(
            spark, config_dir, run_date, layers, table_format=table_format
        )
        d += timedelta(days=1)
    return out


def dry_run(config_dir: str, layers: list[str]) -> int:
    """Validate every config and print the planned units + lineage edges
    WITHOUT starting Spark or executing anything. Exit 0 iff all configs
    load and validate — the pre-deploy check for config changes."""
    from metadata_driven_etl_spark.config.model import (
        ConfigError,
        lineage_edges,
        load_corpus_config,
        unit_id,
    )

    rc = 0
    try:
        configs = load_config_dir(config_dir)
    except ConfigError as e:
        print(f"INVALID config: {e}")
        return 1
    for layer in layers:
        if layer == "corpus":
            cpath = os.path.join(config_dir, "corpus_config.yaml")
            if not os.path.exists(cpath):
                continue
            try:
                ccfg = load_corpus_config(cpath)
            except ConfigError as e:
                print(f"[corpus] INVALID: {e}")
                rc = 1
                continue
            for p in ccfg.pipelines:
                stages = " -> ".join(s.stage for s in p.stages)
                state = "" if p.enabled else " (disabled)"
                print(
                    f"[corpus] {p.pipeline_id}: "
                    f"{p.input_table or p.input_path} -> [{stages}] -> "
                    f"{p.target_table}{state}"
                )
            continue
        if layer not in configs:
            continue
        cfg = configs[layer]
        units = list(cfg.sources) + list(cfg.transformations) + list(cfg.models)
        for u in units:
            state = "" if u.enabled else " (disabled)"
            print(f"[{layer}] {unit_id(u)} -> {u.target_table}{state}")
        for up, down, uid in lineage_edges(cfg):
            print(f"[{layer}] lineage: {up} -> {down} ({uid})")
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="metadata-driven ETL pipeline")
    ap.add_argument("--date", default=date.today().isoformat())
    ap.add_argument(
        "--end-date",
        default=None,
        help="backfill: run every date from --date through --end-date",
    )
    ap.add_argument("--layers", default="bronze,silver,gold")
    ap.add_argument("--config-dir", required=True)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--dry-run",
        action="store_true",
        help="validate configs and print planned units + lineage; no Spark",
    )
    args = ap.parse_args(argv)

    if args.dry_run:
        return dry_run(args.config_dir, args.layers.split(","))

    spark = get_spark(app_name="mdes-pipeline", master=args.master)
    layers = args.layers.split(",")
    if args.end_date:
        per_date = run_backfill(
            spark, args.config_dir, args.date, args.end_date, layers
        )
        failed = any(
            r.status == "error"
            for results in per_date.values()
            for rs in results.values()
            for r in rs
        )
    else:
        results = run_pipeline(spark, args.config_dir, args.date, layers)
        failed = any(
            r.status == "error" for rs in results.values() for r in rs
        )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
