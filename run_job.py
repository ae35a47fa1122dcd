#!/usr/bin/env python3
"""spark-submit entry point for the localization job (north-rule run
mode: ``spark-submit --py-files osml10n_spark.zip run_job.py ...``).

On a cluster the package zip ships to every executor via --py-files;
locally the repo root on sys.path works too.  The session comes from
``SparkSession.builder.getOrCreate()`` so spark-submit's --master /
--conf win; the engine's scale defaults (AQE, skew-join, Arrow) are
applied only where not already set.

Examples
--------
  # generate a synthetic input table, localize to German, commit
  # snapshots under /tmp/store (resumable: rerun continues)
  spark-submit --master local[8] --py-files osml10n_spark.zip \
      run_job.py --generate 100000 --store /tmp/store --lang de

  # run over an existing parquet table of image+caption rows
  spark-submit --py-files osml10n_spark.zip run_job.py \
      --input /data/images.parquet --store /data/l10n_store --lang en

Build the zip with:  python run_job.py --make-zip osml10n_spark.zip
"""
from __future__ import annotations

import argparse
import json
import sys


ENGINE_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
}


def make_zip(dest: str) -> None:
    import pathlib
    import zipfile
    root = pathlib.Path(__file__).resolve().parent / "osml10n_spark"
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted(root.rglob("*")):
            if p.is_file() and "__pycache__" not in p.parts:
                zf.write(p, "osml10n_spark/" + str(p.relative_to(root)))
    print(f"wrote {dest}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet table of image+caption rows")
    ap.add_argument("--generate", type=int,
                    help="synthesize N input rows instead of --input")
    ap.add_argument("--store", required=False,
                    help="snapshot store root (resumable)")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--output", help="plain parquet output (no snapshots)")
    ap.add_argument("--hex-res", type=int, default=None, metavar="RES",
                    help="also emit an H3-analog 'hexcell' column at this "
                         "resolution (0-24) on localize outputs")
    ap.add_argument("--make-zip", metavar="DEST",
                    help="write the --py-files package zip and exit")
    args = ap.parse_args(argv)

    if args.make_zip:
        make_zip(args.make_zip)
        return

    if args.hex_res is not None and not (args.output and not args.store):
        # silently ignoring the flag on the snapshot-store path would
        # look like a no-op bug downstream
        ap.error("--hex-res applies only to --output (plain parquet "
                 "localize output)")

    from pyspark import SparkConf
    from pyspark.sql import SparkSession
    submitted = SparkConf()          # carries spark-submit --conf values
    b = SparkSession.builder.appName("osml10n-localize")
    for k, v in ENGINE_DEFAULTS.items():
        if not submitted.contains(k):    # --conf wins over engine defaults
            b = b.config(k, v)
    spark = b.getOrCreate()

    from osml10n_spark.engine.job import run_localization_job
    from osml10n_spark.engine.localize import localize
    from osml10n_spark.sources.datagen import generate_images

    if args.generate:
        images = generate_images(spark, args.generate, seed=42)
    elif args.input:
        images = spark.read.parquet(args.input)
    else:
        ap.error("need --input or --generate")

    if args.store:
        summary = run_localization_job(spark, images, args.store,
                                       target_lang=args.lang)
        print(json.dumps(summary))
    elif args.output:
        out = localize(images, args.lang)
        if args.hex_res is not None:
            from osml10n_spark.operators.spatial import assign_hexcells
            out = assign_hexcells(out, res=args.hex_res)
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"output": args.output}))
    else:
        n = localize(images, args.lang).count()
        print(json.dumps({"rows": n}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
