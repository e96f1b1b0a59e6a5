"""CLI — the ``shovel --pipeline config.yaml`` analog (reference: src/cli.js,
src/index.js:28-39), spark-submit-ready.

Local:    python -m shovel_spark.cli --pipeline job.yaml
Cluster:  spark-submit --py-files dist/shovel_spark.zip \
              --master ... cli.py --pipeline job.yaml

Shovel's ``workers: N`` per pipeline (reference: src/core/master.js:59-65)
is the cluster's executor count here; ``--resume`` continues a killed run
from the checkpoint ledger.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="shovel_spark")
    p.add_argument("--pipeline", required=True, help="pipeline spec (yaml/json)")
    p.add_argument("--master", default=None, help="spark master (default local[all])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    p.add_argument("--fresh", action="store_true",
                   help="full re-run: delete the ledger, metrics and sinks of out_dir first")
    p.add_argument("--max-buckets", type=int, default=None, help="process at most K pending buckets")
    args = p.parse_args(argv)

    from shovel_spark.config import PipelineSpec
    from shovel_spark.pipeline import metrics_from_ledger, run_resumable
    from shovel_spark.session import get_spark

    spec = PipelineSpec.load(args.pipeline)
    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle_partitions,
                      app_name=f"shovel_spark:{spec.name}")
    cfg = spec.job_config()  # F.expr needs an active session (Spark 4)
    if args.fresh:
        import glob
        import shutil

        # without a ledger every run= leaf is uncommitted and would be
        # deleted anyway; the sinks go too, so that bucket-partitioned
        # output of earlier versions does not block the run
        for d in [f"{cfg.out_dir}/ledger", f"{cfg.out_dir}/metrics_by_bucket",
                  *glob.glob(f"{cfg.out_dir}/sink_*")]:
            shutil.rmtree(d, ignore_errors=True)

    pages = spark.read.parquet(cfg.input_path)
    result = run_resumable(
        spark,
        pages,
        spec.lang_map_df(spark),
        spec.domain_rules_df(spark),
        cfg,
        max_buckets=args.max_buckets,
        lineage=f"parquet:{cfg.input_path}",
    )
    metrics = metrics_from_ledger(spark, cfg.out_dir, pipeline=cfg.name).first()
    summary = {
        "pipeline": cfg.name,
        "run_id": result["run_id"],
        "processed_buckets": len(result["processed_buckets"]),
        "skipped_buckets": len(result["skipped_buckets"]),
        "elapsed_sec": round(result["elapsed_sec"], 2),
        "totals": {
            k: metrics[k] for k in ("in_rows", "acked", "nacked", "ignored", "rejected")
        },
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
