"""spark-submit entry point for the full dedup pipeline.

Cluster usage (north_rule contract):

    python scripts/build_dist.py             # -> dist/app_dupfind_spark.zip
    spark-submit --py-files dist/app_dupfind_spark.zip \\
        jobs/run_pipeline.py \\
        --input <pages parquet/iceberg path> \\
        --checkpoint-dir <stage checkpoint root> \\
        --output <clusters sink path> \\
        [--config k=v ...]

On a multi-executor master the intra-stage fan-out barriers are
reliable checkpoints, written under `<checkpoint-dir>/_rdd_ckpt`, so
they survive executor loss (plans/barriers.py; SCALE.md).

Local smoke:

    python jobs/run_pipeline.py --input /tmp/pages.parquet \\
        --checkpoint-dir /tmp/ckpt --output /tmp/clusters.parquet
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from app_dupfind_spark.config import DedupConfig  # noqa: E402
from app_dupfind_spark.operators.dedup_pipeline import near_dup_pipeline  # noqa: E402
from app_dupfind_spark.plans.pipeline import PERSIST_MODES  # noqa: E402
from app_dupfind_spark.session import get_spark  # noqa: E402


def parse_config(kvs: list[str]) -> DedupConfig:
    overrides: dict = {}
    defaults = {f.name: f.default for f in dataclasses.fields(DedupConfig)}
    for kv in kvs:
        k, v = kv.split("=", 1)
        if k not in defaults:
            # plan-time death on an unknown or derived key (num_perm)
            raise AttributeError(f"DedupConfig has no field {k!r}")
        cur = defaults[k]
        if isinstance(cur, bool):
            overrides[k] = v.lower() in ("1", "true", "yes")
        elif isinstance(cur, int):
            overrides[k] = int(v)
        elif isinstance(cur, float):
            overrides[k] = float(v)
        elif isinstance(cur, tuple):
            # an empty value is the empty tuple: weed_passes= skips
            # weeding (reference --weedout no)
            overrides[k] = tuple(v.split(",")) if v else ()
        else:
            overrides[k] = v
    return DedupConfig(**overrides)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="pages parquet path")
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--config", nargs="*", default=[])
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--order-col", default="warc_ts")
    ap.add_argument(
        "--source-fingerprint", default=None,
        help="input identity (e.g. Iceberg snapshot id) for resume "
             "staleness checks; omitted -> a content fingerprint is "
             "computed in one column-pruned pass",
    )
    ap.add_argument(
        "--input-table", default=None,
        help="read the pages from a catalog table (e.g. an Iceberg "
             "table identifier) instead of --input's path",
    )
    ap.add_argument(
        "--persist-mode", default="parquet",
        choices=PERSIST_MODES,
        help="stage store (make_table_io): parquet+manifest (default), "
             "an Iceberg catalog (needs --iceberg-catalog + runtime "
             "jar), or in-memory localCheckpoints (never resumes)",
    )
    ap.add_argument("--iceberg-catalog", default=None)
    ap.add_argument("--iceberg-namespace", default="dupfind")
    args = ap.parse_args()
    if bool(args.input) == bool(args.input_table):
        ap.error("exactly one of --input / --input-table is required")

    cfg = parse_config(args.config)
    spark = get_spark(app_name="dupfind-pipeline")
    pages = (
        spark.read.table(args.input_table)
        if args.input_table
        else spark.read.parquet(args.input)
    )
    clusters, runner = near_dup_pipeline(
        spark,
        pages,
        cfg,
        args.checkpoint_dir,
        id_col=args.id_col,
        text_col=args.text_col,
        order_col=args.order_col,
        persist_mode=args.persist_mode,
        source_fingerprint=args.source_fingerprint,
        iceberg_catalog=args.iceberg_catalog,
        iceberg_namespace=args.iceberg_namespace,
    )
    clusters.write.mode("overwrite").parquet(args.output)
    # the reference prints a per-stage run summary (App.pm:194-219);
    # ours is the metrics + counters tables, also persisted beside the
    # output (A6: scan/size-dup/real-dup triplet, App.pm:424-429)
    runner.metrics_df().write.mode("overwrite").parquet(
        str(Path(args.output).with_suffix("")) + "_stage_metrics.parquet"
    )
    runner.counters_df().write.mode("overwrite").parquet(
        str(Path(args.output).with_suffix("")) + "_run_counters.parquet"
    )
    print(json.dumps({"stages": runner.metrics, "counters": runner.counters}))
    spark.stop()


if __name__ == "__main__":
    main()
