"""Per-layer probes for the traced run: each times calls into one
layer's public functions, from outside the program.

Spark probes scan the workload's input with ever more of the flagship
plan on top (``sources`` → ``udfs`` Arrow crossing → ``spatial`` cell
expressions); the kNN probe runs ``operators.spatial.knn_cells`` on it.
Kernel probes run the cascade and its parts on pandas batches in this
process, without Spark.
"""
from __future__ import annotations

import json
import statistics
import time
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osml10n_spark.kernels import translit
from osml10n_spark.kernels.names import get_placename_from_tags
from osml10n_spark.kernels.scripts import contains_cjk, contains_thai
from osml10n_spark.operators.spatial import assign_cells, assign_tiles
from osml10n_spark.spatial.boundaries import load_boundaries
from osml10n_spark.spatial.cellindex import cell_from_lonlat
from osml10n_spark.spatial.prepared import PreparedLookup
from osml10n_spark.udfs import make_cascade_udf

from checks import knn_brute

BATCH = 10_000
SAMPLE_QUERIES = 12


@pandas_udf("long")
def _noop(tags: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
    return pd.Series(np.zeros(len(tags), dtype=np.int64))


def _median_rate(fn, units: int, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return units / statistics.median(times)


def spark_probes(spark, path: Path, span, reps: int = 3) -> dict:
    df = spark.read.parquet(str(path))
    n = df.count()
    tags_json = F.to_json("tags")

    def scan():
        with span("sources.scan"):
            df.select(tags_json.alias("j"), "lon", "lat").agg(
                F.sum(F.length("j")), F.sum("lon"), F.sum("lat")).collect()

    def arrow():
        with span("udfs.arrow"):
            df.select(_noop(tags_json, "lon", "lat").alias("z")).agg(
                F.sum("z")).collect()

    def cellexpr():
        with span("spatial.cellexpr"):
            assign_tiles(assign_cells(df)).agg(
                F.max("cell_id"), F.max("tile_id")).collect()

    return {"sources.scan_rows_per_s": _median_rate(scan, n, reps),
            "udfs.arrow_rows_per_s": _median_rate(arrow, n, reps),
            "spatial.cellexpr_rows_per_s": _median_rate(cellexpr, n, reps)}


def knn_probe(spark, items_path: Path, queries_path: Path, span, seed: int,
              k: int = 5, res: int = 7) -> tuple[dict, list[str]]:
    """One ``knn_cells`` call of the queries against the items, timed,
    with its ``KNN_LAST_RUN`` counts; sampled queries are checked
    against a numpy brute force.  Returns (metrics, failures)."""
    from osml10n_spark.operators.spatial import KNN_LAST_RUN, knn_cells

    qt = pq.read_table(queries_path, columns=["image_id", "lon", "lat"])
    it = pq.read_table(items_path, columns=["image_id", "lon", "lat"])
    rng = np.random.default_rng([seed, 13])
    picks = rng.choice(qt.num_rows, SAMPLE_QUERIES, replace=False)
    sample = qt.take(sorted(picks)).to_pylist()
    qids = [r["image_id"] for r in sample]
    q = spark.read.parquet(str(queries_path)).select(
        F.col("image_id").alias("qid"), "lon", "lat")
    items = spark.read.parquet(str(items_path)).select(
        F.col("image_id").alias("iid"), "lon", "lat")
    with span("operators.knn"):
        t0 = time.perf_counter()
        out = knn_cells(q, items, k=k, res=res)
        row = out.agg(F.count(F.lit(1)).alias("n"), F.collect_list(
            F.when(F.col("qid").isin(qids), F.struct("qid", "iid", "dist2", "rank"))
        ).alias("samples")).collect()[0]
        wall = time.perf_counter() - t0
    out.unpersist()

    bad = []
    if row.n != k * qt.num_rows:
        bad.append(f"knn: {row.n} neighbours, expected {k * qt.num_rows}")
    got: dict[str, list] = {}
    for s in sorted(row.samples, key=lambda s: (s.qid, s.rank)):
        got.setdefault(s.qid, []).append((s.iid, s.dist2))
    ilon, ilat = it.column("lon").to_numpy(), it.column("lat").to_numpy()
    iid = it.column("image_id").to_pylist()
    for r in sample:
        want = knn_brute(r["lon"], r["lat"], ilon, ilat, iid, k)
        if got.get(r["image_id"]) != want:
            bad.append(f"knn query {r['image_id']}: got {got.get(r['image_id'])}, "
                       f"expected {want}")
    metrics = {"operators.knn_queries_per_s": qt.num_rows / wall,
               **{f"operators.knn.{key}": v for key, v in KNN_LAST_RUN.items()
                  if isinstance(v, int)}}
    return metrics, bad


def _tags_json(tags) -> str:
    """The string ``to_json`` makes of a tag map on the JVM side."""
    return json.dumps(dict(tags), ensure_ascii=False, separators=(",", ":"))


def kernel_probes(path: Path, fixture: Path, transcriptor, span,
                  rows: int = 2 * BATCH) -> dict:
    t = pq.read_table(path, columns=["tags", "lon", "lat"]).slice(0, rows)
    tags = t.column("tags").to_pylist()
    lon = t.column("lon").to_numpy()
    lat = t.column("lat").to_numpy()
    names = [dict(x).get("name", "") for x in tags]
    out: dict = {}

    # udfs: the cascade UDF's Python body on Arrow-sized batches; this
    # process has run no cascade yet, so the first pass misses the memos
    # and the replay hits them
    cascade = make_cascade_udf("placename", "de", False, "\n").func
    batches = [(pd.Series([_tags_json(x) for x in tags[s:s + BATCH]]),
                pd.Series(lon[s:s + BATCH]), pd.Series(lat[s:s + BATCH]))
               for s in range(0, len(tags), BATCH)]
    cjk_i = next(i for i, nm in enumerate(names) if contains_cjk(nm))
    cascade(*(b.iloc[cjk_i:cjk_i + 1] for b in batches[0]))   # builds the lookup
    for key in ("udfs.cascade_rows_per_s", "udfs.cascade_warm_rows_per_s"):
        with span(key.rsplit("_rows", 1)[0]):
            t0 = time.perf_counter()
            res = [cascade(*b) for b in batches]
            out[key] = len(tags) / (time.perf_counter() - t0)
    flat = [v for r in res for v in r]
    out["udfs.empty_output_rows"] = sum(1 for nm, v in zip(names, flat)
                                        if nm and v == "")

    # kernels: the cascade with the linear-scan transcriptor, on the rows
    # the ASCII single-name fast path does not take
    slow = [i for i, x in enumerate(tags)
            if not (len(x) == 1 and _tags_json(x).isascii())]
    with span("kernels.placename"):
        t0 = time.perf_counter()
        for i in slow:
            get_placename_from_tags("", dict(tags[i]), False, "\n", "de",
                                    [lon[i], lat[i], lon[i], lat[i]],
                                    transcriptor)
        out["kernels.placename_rows_per_s"] = len(slow) / (time.perf_counter() - t0)

    # spatial: the prepared lookup on the CJK rows' points
    cjk = np.array([i for i, nm in enumerate(names) if contains_cjk(nm)])
    with span("spatial.prepare"):
        t0 = time.perf_counter()
        prep = PreparedLookup(load_boundaries(str(fixture)), res=9)
        out["spatial.prepare_s"] = time.perf_counter() - t0
    with span("spatial.pip"):
        out["spatial.pip_points_per_s"] = _median_rate(
            lambda: prep.lookup(lon[cjk], lat[cjk]), len(cjk), 3)
    ccs = prep.lookup(lon[cjk], lat[cjk])
    cells = cell_from_lonlat(lon[cjk], lat[cjk], prep.res).tolist()
    out["spatial.pip_interior_frac"] = sum(
        1 for c in cells if c in prep.interior and c not in prep.boundary) / len(cells)

    # kernels: transliteration of the CJK and Thai names with their cc
    work = [(names[i], str(cc)) for i, cc in zip(cjk.tolist(), ccs)]
    work += [(nm, "th") for nm in names if not contains_cjk(nm) and contains_thai(nm)]
    with span("kernels.transcript"):
        t0 = time.perf_counter()
        for nm, cc in work:
            translit.transcript("", cc, nm)
        out["kernels.transcript_per_s"] = len(work) / (time.perf_counter() - t0)
    return out
