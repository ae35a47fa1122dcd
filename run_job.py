#!/usr/bin/env python3
"""spark-submit entry point for the localization job (north-rule run
mode: ``spark-submit --py-files osml10n_spark.zip run_job.py ...``):
a resumable snapshot-store run of ``run_localization_job``.

On a cluster the package zip ships to every executor via --py-files;
locally the repo root on sys.path works too.  The session comes from
``engine.session.build_session``, the factory every other entry point
uses: spark-submit's --master / --conf win, and the engine's defaults
fill in every key the submit left unset.

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
    ap.add_argument("--store", help="snapshot store root (resumable; "
                                    "required unless --make-zip)")
    ap.add_argument("--lang", default="en")
    ap.add_argument("--make-zip", metavar="DEST",
                    help="write the --py-files package zip and exit")
    args = ap.parse_args(argv)

    if args.make_zip:
        make_zip(args.make_zip)
        return
    if not args.store:
        ap.error("need --store")
    if not (args.input or args.generate):
        ap.error("need --input or --generate")

    from osml10n_spark.engine.job import run_localization_job
    from osml10n_spark.engine.session import build_session
    from osml10n_spark.sources.datagen import generate_images

    spark = build_session("osml10n-localize")
    if args.generate:
        images = generate_images(spark, args.generate, seed=42)
    else:
        images = spark.read.parquet(args.input)
    summary = run_localization_job(spark, images, args.store,
                                   target_lang=args.lang)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
