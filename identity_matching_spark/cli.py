"""spark-submit entry point (north_rule: launched via spark-submit --py-files).

Usage:
  spark-submit --py-files idmatch.zip -m identity_matching_spark.cli \
      --input /path/transcripts_parquet --output /path/out \
      --checkpoints /path/ckpt [--similarity] [--max-identities 20]

Reads the transcript table (parquet/Iceberg path), runs the staged pipeline
with resumable checkpoints, writes aliases/identities parquet outputs and a
JSON metrics report to stdout (the reference CLI's contract:
cmd/match-identities/main.go:54-127 + reporter JSON dump).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="identity-matching-spark")
    p.add_argument("--input", required=True, help="transcripts table path (parquet)")
    p.add_argument("--output", required=True, help="output base path (…-aliases/-identities)")
    p.add_argument("--checkpoints", default=None, help="checkpoint root for resumable stages")
    p.add_argument(
        "--checkpoint-table-prefix", default=None,
        help="catalog namespace (e.g. ice.ckpt) for Iceberg-table stage "
        "checkpoints via writeTo(...).createOrReplace(); parquet dirs under "
        "--checkpoints otherwise",
    )
    p.add_argument("--max-identities", type=int, default=20)
    p.add_argument("--months", type=int, default=12)
    p.add_argument("--min-count", type=int, default=5)
    p.add_argument("--similarity", action="store_true", help="enable MinHash-LSH + Jaro-Winkler pass")
    p.add_argument("--jw-threshold", type=float, default=0.95)
    p.add_argument("--cooccurrence-popularity", action="store_true")
    p.add_argument(
        "--no-verify-ids", dest="verify_ids", action="store_false",
        help="skip the person-id hash-collision assertion (saves one aggregate; "
        "only safe far below 2^32 distinct signatures)",
    )
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from identity_matching_spark.plans.pipeline import PipelineConfig, run_pipeline
    from identity_matching_spark.session import get_spark
    from identity_matching_spark.sources.io import CheckpointStore, write_outputs

    spark = get_spark(app_name="identity-matching-spark", master=args.master)
    cfg = PipelineConfig(
        max_identities=args.max_identities,
        recent_months=args.months,
        min_recent_count=args.min_count,
        similarity_mode=args.similarity,
        jw_threshold=args.jw_threshold,
        use_cooccurrence_popularity=args.cooccurrence_popularity,
        verify_ids=args.verify_ids,
    )
    store = (
        CheckpointStore(
            spark, args.checkpoints, cfg.as_dict(),
            table_prefix=args.checkpoint_table_prefix,
        )
        if args.checkpoints or args.checkpoint_table_prefix
        else None
    )

    from identity_matching_spark.reporter import Reporter

    reporter = Reporter(spark)
    t0 = time.time()
    transcripts = spark.read.parquet(args.input)
    out = run_pipeline(spark, transcripts, cfg, store=store, reporter=reporter)
    pa, pi = write_outputs(out["aliases"], out["identities"], args.output)

    # the run stages committed their own counters (people found / filtering
    # drops in operators/people.py, match + edge classes in
    # operators/cluster.py — reference keys, people.go:141-167,
    # matching.go:129-233); a checkpoint-RESUMED stage commits them again
    # from its sidecar (CheckpointStore.get_or_compute)
    reporter.commit("people after reduce", out["identities"].count())
    reporter.commit("alias rows", out["aliases"].count())
    reporter.commit("elapsed_sec", round(time.time() - t0, 2))
    reporter.commit("aliases_path", pa)
    reporter.commit("identities_path", pi)

    from pyspark.sql import functions as F

    sizes = out["membership"].groupBy("component").count()
    stats = sizes.agg(
        F.avg("count").alias("mean"),
        F.coalesce(F.stddev("count"), F.lit(0.0)).alias("std"),
        F.max("count").alias("max"),
    ).collect()[0]
    # A5 component-size stats, keys matching the reference's JSON report
    # (matching.go:223-233)
    reporter.commit("connected component size mean", float(stats["mean"] or 0))
    reporter.commit("connected component size std", float(stats["std"] or 0))
    reporter.commit("connected component size max", int(stats["max"] or 0))
    print(reporter.dump())
    return 0


if __name__ == "__main__":
    sys.exit(main())
