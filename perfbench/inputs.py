"""Seeded input generator for the benchmark's corpora.

The benchmark owns this generator so that a change to
``osml10n_spark.sources.datagen`` cannot move its inputs.  The caption
class mix follows ``datagen.caption_for``: 50% latin (30% of them also
carry ``name:de``), 12% cyrillic, 18% CJK placed around the boundary
clusters, 7% thai, 13% bilingual.  World points land in the Tokyo
hotspot a quarter of the time.

Everything is drawn with numpy from ``default_rng([seed, stream])`` and
written with pyarrow, so generation needs no Spark session and the same
seed gives byte-identical parquet.
"""
from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LATIN = ["Hauptstraße", "Kirchweg", "Rue de la Paix", "Market Street",
         "Königsallee", "Old Mill Lane", "Plaza Mayor", "Bahnhofplatz",
         "Avenue Foch", "High Street", "Am Markt", "Canal Road",
         "Via Roma", "Dorfstraße", "Harbour View", "Lindenallee",
         "Place du Marché", "Station Road"]
CYRILLIC = ["улица Ленина", "Садовая улица", "проспект Мира",
            "вулиця Шевченка", "Красная площадь", "набережная Мойки"]
CJK = ["東京", "新宿駅", "大阪城", "香港", "九龍城", "澳門",
       "台北車站", "上海", "中山路", "銀座 4 丁目"]
THAI = ["ถนนสีลม", "ตลาดน้ำ", "วัดพระแก้ว", "สวนลุมพินี", "ท่าเรือ"]
BILINGUAL = [("Bolzano - Bozen", {"name:de": "Bozen", "name:it": "Bolzano"}),
             ("Biel/Bienne", {"name:de": "Biel", "name:fr": "Bienne"}),
             ("Bruxelles - Brussel", {"name:de": "Brüssel",
                                      "name:fr": "Bruxelles"}),
             ("Meran - Merano", {"name:de": "Meran", "name:it": "Merano"})]

# (lon, lat, sigma) placement clusters for CJK captions; the fifth one
# (Shanghai) lies outside every fixture polygon, so it resolves to ''
CJK_CLUSTERS = [(139.7, 35.7, 0.5), (114.17, 22.30, 0.02),
                (113.56, 22.18, 0.01), (121.0, 23.7, 0.5),
                (121.4, 31.2, 0.5), (100.5, 13.8, 0.5)]
HOTSPOT = (139.70, 35.68, 0.05)
CLASS_EDGES = np.array([0.50, 0.62, 0.80, 0.87])   # latin|cyr|cjk|thai|bi

SCHEMA = pa.schema([("image_id", pa.string()), ("caption", pa.string()),
                    ("lon", pa.float64()), ("lat", pa.float64()),
                    ("tags", pa.map_(pa.string(), pa.string()))])


def _place(rng: np.random.Generator, cls: np.ndarray):
    n = len(cls)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-60.0, 75.0, n)
    hot = rng.random(n) < 0.25
    lon[hot] = rng.normal(HOTSPOT[0], HOTSPOT[2], hot.sum())
    lat[hot] = rng.normal(HOTSPOT[1], HOTSPOT[2], hot.sum())
    cjk = cls == 2
    k = rng.integers(len(CJK_CLUSTERS), size=n)
    c = np.asarray(CJK_CLUSTERS)[k]
    lon[cjk] = rng.normal(c[cjk, 0], c[cjk, 2])
    lat[cjk] = rng.normal(c[cjk, 1], c[cjk, 2])
    thai = cls == 3
    lon[thai] = rng.normal(100.5, 0.8, thai.sum())
    lat[thai] = rng.normal(14.0, 0.8, thai.sum())
    return np.clip(lon, -180.0, 180.0), np.clip(lat, -90.0, 90.0)


def _labels(rng: np.random.Generator, cls: np.ndarray,
            suffixes: np.ndarray) -> list[tuple[str, dict]]:
    """(caption, tags) per row; ``suffixes`` < 0 means no suffix."""
    n = len(cls)
    pick = rng.random(n)
    de = rng.random(n) < 0.3
    out = []
    for i in range(n):
        c = cls[i]
        if c == 4:
            cap, extra = BILINGUAL[int(pick[i] * len(BILINGUAL))]
            out.append((cap, {"name": cap, **extra}))
            continue
        words = (LATIN, CYRILLIC, CJK, THAI)[c]
        cap = words[int(pick[i] * len(words))]
        if suffixes[i] >= 0:
            cap = f"{cap} {suffixes[i]}"
        tags = {"name": cap}
        if c == 0 and de[i]:
            tags["name:de"] = cap
        out.append((cap, tags))
    return out


def _table(ids: list[str], labels: list[tuple[str, dict]], lon, lat,
           payload: list[bytes] | None) -> pa.Table:
    cols = {"image_id": pa.array(ids, pa.string()),
            "caption": pa.array([c for c, _ in labels], pa.string()),
            "lon": pa.array(lon, pa.float64()),
            "lat": pa.array(lat, pa.float64()),
            "tags": pa.array([list(t.items()) for _, t in labels],
                             pa.map_(pa.string(), pa.string()))}
    schema = SCHEMA
    if payload is not None:
        cols["bytes"] = pa.array(payload, pa.binary())
        schema = schema.append(pa.field("bytes", pa.binary()))
    return pa.table(cols, schema=schema)


def unique_rows(seed: int, stream: int, start: int, n: int) -> pa.Table:
    """``n`` rows whose single-name captions get a unique numeric suffix
    80% of the time; the suffix is the global row number, so slices
    drawn with different ``start`` share no suffixed tag map."""
    rng = np.random.default_rng([seed, stream, start])
    cls = np.searchsorted(CLASS_EDGES, rng.random(n), side="right")
    rowno = np.arange(start, start + n)
    suffixes = np.where(rng.random(n) < 0.8, rowno, -1)
    labels = _labels(rng, cls, suffixes)
    lon, lat = _place(rng, cls)
    ids = [f"img_{seed}_{stream}_{i:09d}" for i in rowno]
    return _table(ids, labels, lon, lat, None)


def pooled_rows(seed: int, n: int, pool: int = 2000,
                payload: tuple[int, int] = (1024, 2048)) -> pa.Table:
    """``n`` rows whose labels repeat from a pool of ``pool`` tag maps,
    each row with a random binary payload of ``payload`` bytes."""
    rng = np.random.default_rng([seed, 99])
    pcls = np.searchsorted(CLASS_EDGES, rng.random(pool), side="right")
    plabels = _labels(rng, pcls, rng.integers(1, 1000, pool))
    pick = rng.integers(pool, size=n)
    cls = pcls[pick]
    lon, lat = _place(rng, cls)
    sizes = rng.integers(payload[0], payload[1] + 1, n)
    blob = rng.bytes(int(sizes.sum()))
    offs = np.concatenate([[0], np.cumsum(sizes)])
    data = [blob[offs[i]:offs[i + 1]] for i in range(n)]
    ids = [f"img_{seed}_pool_{i:09d}" for i in range(n)]
    return _table(ids, [plabels[j] for j in pick], lon, lat, data)


def write_parquet(table: pa.Table, dirname: Path, files: int) -> Path:
    """Write ``table`` as ``files`` parquet files (one Spark scan task
    each) plus a ``_SUCCESS`` marker, which makes the write a cache."""
    dirname.mkdir(parents=True, exist_ok=True)
    per = -(-table.num_rows // files)
    for f in range(files):
        part = table.slice(f * per, per)
        if part.num_rows:
            pq.write_table(part, dirname / f"part-{f:04d}.parquet")
    (dirname / "_SUCCESS").write_text("")
    return dirname


def input_mix(table: pa.Table) -> dict:
    """Fractions that decide which cascade paths the rows take."""
    from osml10n_spark.spatial.cellindex import cell_from_lonlat

    n = table.num_rows
    tags = table.column("tags").to_pylist()
    enc = [json.dumps(dict(t), ensure_ascii=False, separators=(",", ":"))
           for t in tags]
    single = sum(1 for t in tags if len(t) == 1 and t[0][1].isascii()
                 and '"' not in t[0][1] and "\\" not in t[0][1])
    cjk = sum(1 for t in tags
              if any("぀" <= ch <= "鿿" for ch in dict(t)["name"]))
    cells = cell_from_lonlat(table.column("lon").to_numpy(),
                             table.column("lat").to_numpy(), 9)
    _, counts = np.unique(cells, return_counts=True)
    return {"input.rows": n,
            "input.ascii_single_frac": single / n,
            "input.cjk_frac": cjk / n,
            "input.distinct_tags_frac": len(set(enc)) / n,
            "input.hotspot_cell_frac": float(counts.max()) / n}
