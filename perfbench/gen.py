"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed, in this
one process, with NumPy's PCG64 generator: the same seed writes the same
bytes, another seed writes other bytes with the same structure.

* `write_corpus`: the `documents` and `embeddings` tables the curation
  queries read, one parquet file each, with the schemas and value domains
  of the engine's test tables (TESTDATA.md, FIXTURES.md F0).
* `make_events`: the `events` table, 1M x `sf` rows, for the streaming
  workload and its oracle.
* `write_geo_sources`: GeoJSON (EPSG:3006, CRS84, no CRS member) and Esri
  JSON source files for the reference pipeline (FIXTURES.md F1/F6), plus
  the feature count each source must load, derived from where each
  feature was placed.
* `write_event_files`: the events table cut into consecutive time slices,
  one parquet file per slice, for the streaming workload.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- events and corpus tables -------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EMB_DIM = 64

_DAY_US = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int((datetime(y, m, d) - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    """An independent generator per table, so a subset of the tables can
    be made without changing the rest."""
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def make_events(seed: int, sf: float) -> pa.Table:
    """A month of events with exponential gaps, so the stream is
    time-ordered: 1M x sf events from 15k x sf users."""
    n_ev = max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    rng = _rng(seed, 6)
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    return pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_epoch_us(2024, 1, 1) + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _money(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })


def make_corpus(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The `documents` and `embeddings` tables (deterministic in `seed`)."""
    t = {}
    # documents: random words; 5% are another document plus " dup"
    rng = _rng(seed, 7)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    lens = rng.integers(10, 101, n_docs)
    dup_of = rng.integers(0, n_docs, n_docs)
    is_dup = rng.random(n_docs) < 0.05
    for i in range(n_docs):
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), lens[i])]))
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[dup_of[i]] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # embeddings: unit vectors with a weak per-label direction
    rng = _rng(seed, 8)
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = rng.normal(0.0, 1.0, (n_vecs, EMB_DIM)) + 0.5 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_corpus(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict:
    """Write each corpus table to `<out_dir>/<name>.parquet`; return input
    sizes."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = {"rows": 0, "bytes": 0}
    for name, tbl in make_corpus(seed, n_docs, n_vecs).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        sizes["rows"] += tbl.num_rows
        sizes["bytes"] += os.path.getsize(path)
    return sizes


def write_event_files(events: pa.Table, out_dir: str, n_files: int) -> None:
    """Cut the time-ordered events into `n_files` consecutive slices. The
    timestamp is written UTC-adjusted, so a stream reads it as TIMESTAMP
    (watermarks need it)."""
    os.makedirs(out_dir, exist_ok=True)
    ts = events.column("ts").cast(pa.timestamp("us", tz="UTC"))
    events = events.set_column(events.schema.get_field_index("ts"), "ts", ts)
    bounds = np.linspace(0, events.num_rows, n_files + 1).astype(int)
    for i in range(n_files):
        part = events.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:04d}.parquet"))


# --- geospatial sources (reference pipeline inputs) --------------------

# area of interest, SWEREF99 TM metres (xmin, ymin, xmax, ymax)
AOI_3006 = (400_000.0, 6_400_000.0, 700_000.0, 6_800_000.0)

# Placement boxes per class, each well clear of the AOI edges so the
# projection between CRS84 and SWEREF99 TM cannot move a feature across
# one. Crossing boxes straddle the AOI's northern edge (y = 6 800 000,
# about lat 61.3 near lon 15).
_BOXES = {
    3006: {
        "inside": (420_000.0, 6_420_000.0, 680_000.0, 6_770_000.0),
        "outside": (420_000.0, 6_900_000.0, 680_000.0, 7_400_000.0),
        "cross_lo": 6_780_000.0, "cross_hi": 6_830_000.0,
        "oob_x": 100_000.0,          # west of the SWEREF99 TM window
        "size": (200.0, 2_000.0),
    },
    4326: {
        "inside": (14.0, 58.3, 16.0, 60.6),
        "outside": (14.0, 62.5, 16.0, 64.5),
        "cross_lo": 61.0, "cross_hi": 61.7,
        "oob_x": 200.0,              # longitude past 180
        "size": (0.004, 0.03),
    },
}

AUTHORITIES = ["NVV", "RAA", "SGU", "LST", "SKS", "TRV", "SVK", "FM"]
NAMES = ["Älvdal", "Sjö", "Åker", "Skog", "Myr", "Ö", "Hed", "Ström"]
BASE_TYPES = ["Polygon", "LineString", "Point"]

# file formats: (kind, epsg the coordinates are written in)
FORMATS = [("geojson_3006", 3006), ("esri", 3006), ("geojson_crs84", 4326),
           ("geojson_nocrs", 4326)]


def _geometry(rng, gtype: str, cls: str, epsg: int):
    """One geometry of `gtype` placed in class `cls` -> (type, coords)."""
    box = _BOXES[epsg]
    lo, hi = box["size"]
    s = rng.uniform(lo, hi)
    if cls == "cross" and gtype != "Point":
        x0 = rng.uniform(box["inside"][0], box["inside"][2])
        ya, yb = box["cross_lo"], box["cross_hi"]
    else:
        b = box["inside"] if cls in ("inside", "cross") else box["outside"]
        x0 = rng.uniform(b[0], b[2] - s)
        ya = rng.uniform(b[1], b[3] - s)
        yb = ya + s
    if cls == "oob":
        x0 = box["oob_x"]
    if gtype == "Point":
        return "Point", [x0, ya]
    if gtype == "LineString":
        ys = np.linspace(ya, yb, 4)
        xs = x0 + rng.uniform(0, s, 4)
        return "LineString", [[x, y] for x, y in zip(xs, ys)]
    # octagon-ish ring spanning [ya, yb] vertically
    cy, ry, rx = (ya + yb) / 2, (yb - ya) / 2, s / 2
    ang = np.linspace(0, 2 * np.pi, 9)[:-1]
    ring = [[x0 + rx + rx * np.cos(a), cy + ry * np.sin(a)] for a in ang]
    ring.append(ring[0])
    return "Polygon", [ring]


def _round_coords(c, nd: int):
    if isinstance(c[0], (list, tuple)):
        return [_round_coords(x, nd) for x in c]
    return [round(float(c[0]), nd), round(float(c[1]), nd)]


def _esri_geometry(gtype: str, coords) -> dict:
    if gtype == "Point":
        return {"x": coords[0], "y": coords[1]}
    if gtype == "LineString":
        return {"paths": [coords]}
    return {"rings": coords}


def _source_doc(rng, kind: str, epsg: int, n: int, dominant: str,
                minority: str) -> tuple[dict, int, int]:
    """-> (document, features expected to load, features in the file)."""
    nd = 2 if epsg == 3006 else 7
    feats, expected = [], 0
    u = rng.random(n)
    minor = rng.random(n) < 0.10
    for i in range(n):
        cls = ("oob" if u[i] < 0.05 else "inside" if u[i] < 0.62
               else "outside" if u[i] < 0.905 else "cross")
        gtype = minority if minor[i] else dominant
        gt, coords = _geometry(rng, gtype, cls, epsg)
        coords = _round_coords([coords], nd)[0] if gt == "Point" else _round_coords(coords, nd)
        props = {
            "namn": f"{NAMES[i % len(NAMES)]} {i}",
            "kategori": f"k{int(rng.integers(0, 5))}",
            "areal_ha": round(float(rng.uniform(0, 500)), 2),
            "aktiv": bool(i % 3),
        }
        if not minor[i] and cls in ("inside", "cross"):
            expected += 1
        if kind == "esri":
            feats.append({"attributes": props, "geometry": _esri_geometry(gt, coords)})
        else:
            feats.append({"type": "Feature", "properties": props,
                          "geometry": {"type": gt, "coordinates": coords}})
    if kind == "esri":
        doc = {"spatialReference": {"wkid": 3006}, "features": feats}
    else:
        doc = {"type": "FeatureCollection", "features": feats}
        if kind == "geojson_3006":
            doc["crs"] = {"type": "name", "properties": {"name": "EPSG:3006"}}
        elif kind == "geojson_crs84":
            doc["crs"] = {"type": "name",
                          "properties": {"name": "urn:ogc:def:crs:OGC:1.3:CRS84"}}
    return doc, expected, n


def write_geo_sources(out_dir: str, seed: int, n_small: int, small_features: int,
                      n_large: int, large_features: int) -> tuple[list[dict], dict]:
    """Write one source file per source under `out_dir`.

    Returns (sources, sizes). Each source is {name, authority, path,
    expected} where `expected` is the number of features the pipeline must
    load: the source's dominant geometry type, inside the coordinate
    window, and inside or across the AOI. Large sources are polygons; small
    ones take the geometry types in turn, so that every seed writes the
    same mix of types, whatever each type costs to process."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    sources = []
    sizes = {"features": 0, "bytes": 0}
    plan = [("s", i, small_features) for i in range(n_small)]
    plan += [("l", i, large_features) for i in range(n_large)]
    for k, (size_cls, i, n) in enumerate(plan):
        kind, epsg = FORMATS[k % len(FORMATS)]
        if size_cls == "l":
            kind, epsg = FORMATS[(2 * i) % 3]  # 3006 GeoJSON, CRS84, Esri
            dominant = "Polygon"
        else:
            dominant = BASE_TYPES[i % len(BASE_TYPES)]
        minority = BASE_TYPES[(BASE_TYPES.index(dominant) + 1) % 3]
        auth = AUTHORITIES[k % len(AUTHORITIES)]
        name = f"{auth.lower()}_{size_cls}{i:02d}"
        doc, expected, nfeat = _source_doc(rng, kind, epsg, n, dominant, minority)
        ext = ".json" if kind == "esri" else ".geojson"
        path = os.path.join(out_dir, name + ext)
        with open(path, "w") as f:
            json.dump(doc, f, separators=(",", ":"))
        sources.append({"name": name, "authority": auth, "path": path,
                        "expected": expected})
        sizes["features"] += nfeat
        sizes["bytes"] += os.path.getsize(path)
    return sources, sizes
