"""spark-submit entry point for the encode job.

Usage:
    spark-submit --py-files flowforge.zip jobs/encode.py \
        --input <parquet path or dir> --out <chunk store dir> \
        [--chunk-rows N] [--sort-col C] [--no-resume]
    ... [--mode salted [--salt-col url] | --mode clustered --cluster-col C]
        [--buckets N]

The default direct mode encodes the source's parquet row groups in place,
one Spark job with no shuffle (``engine.run_encode_path``); its bucket plan
comes from the row groups and the core count, so ``--buckets``,
``--salt-col`` and ``--cluster-col`` are refused there. The salted and
clustered modes shuffle once onto url-hash or quantile-range buckets
(``engine.run_encode``). Prints the per-column compression report and a
one-line JSON summary.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession

from flowforge import engine


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--mode", choices=["direct", "salted", "clustered"],
                    default="direct",
                    help="direct: no-shuffle scan-task encode (default); "
                         "salted: one shuffle onto url-hash buckets; "
                         "clustered: one shuffle onto quantile range "
                         "buckets of --cluster-col (tight zone maps)")
    ap.add_argument("--buckets", type=int, default=None)
    # None = adopt an existing store's plan on resume (explicit values
    # must match the stored plan or the job refuses)
    ap.add_argument("--chunk-rows", type=int, default=None)
    ap.add_argument("--salt-col", default=None)
    ap.add_argument("--sort-col", default=None,
                    help="direct mode: optional per-bucket re-cluster column")
    ap.add_argument("--cluster-col", default=None,
                    help="clustered mode: int-ordered column (e.g. warc_ts) "
                         "whose quantiles define the bucket ranges")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args(argv)
    if args.mode == "direct":
        ignored = [flag for flag, value in (
            ("--buckets", args.buckets), ("--salt-col", args.salt_col),
            ("--cluster-col", args.cluster_col)) if value is not None]
        if ignored:
            ap.error(f"direct mode would ignore {', '.join(ignored)}: it "
                     "plans its buckets from the source's row groups; add "
                     "--mode salted or --mode clustered")

    spark = SparkSession.builder.appName("flowforge-encode").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    t0 = time.time()
    if args.mode == "direct":
        metrics = engine.run_encode_path(
            spark, args.input, args.out,
            chunk_rows=args.chunk_rows, sort_col=args.sort_col or None,
            resume=not args.no_resume,
        )
    else:
        df = spark.read.parquet(args.input)
        metrics = engine.run_encode(
            spark, df, args.out,
            buckets=args.buckets, chunk_rows=args.chunk_rows,
            salt_col=args.salt_col, cluster_col=args.cluster_col,
            resume=not args.no_resume,
        )
    wall = time.time() - t0

    rep = engine.compression_report(spark, args.out)
    rep.show(truncate=False)
    bytes_in = sum(r["bytes_in"] for r in metrics)
    bytes_out = sum(r["bytes_out"] for r in metrics)
    print(json.dumps({
        "job": "encode", "wall_sec": round(wall, 3),
        "buckets_encoded": len({r["bucket"] for r in metrics}),
        "bytes_in": bytes_in, "bytes_out": bytes_out,
        "ratio": round(bytes_out / bytes_in, 4) if bytes_in else None,
        "gbps": round(bytes_in / wall / 1e9, 4) if wall > 0 else None,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
