"""GeoJSON / Esri JSON file connectors -> canonical feature DataFrame.

Spark-first shape: the file list becomes a DataFrame (one row per file);
`mapInPandas` fans the parse out across executors — one file per task —
and each task emits canonical feature rows with geometry already
normalized to WKB. On a 1000-executor cluster a million files parse in
parallel with zero driver involvement; file contents never pass through
the driver.

Parsing fidelity mirrors the reference:
 - SR detection from the (legacy) `crs` member, default 4326
   (etl/sr_utils.py:144-174; etl/stage_files.py:485-492);
 - Esri JSON: `spatialReference.wkid`, rings/paths/points/x-y geometry
   forms (etl/stage_files.py:602-625, etl/download_rest.py:308-318);
 - size/depth guards (etl/http_utils.py:398-441): oversized or corrupt
   files yield zero rows + a warning row in the side channel rather than
   failing the job (continue-on-failure semantics, config.yaml:130).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from op_etl_spark.functions.crs import crs_to_epsg_py
from op_etl_spark.geometry.wkb import envelope as _envelope
from op_etl_spark.geometry.wkb import wkb_dumps

from .schema import FEATURE_DDL

MAX_JSON_BYTES = 50 * 1024 * 1024  # etl/http_utils.py:398 (50 MB parse cap)

_ESRI_WKID_DEFAULT = 3006  # reference stages everything in SWEREF99 TM


def _props_to_str_map(props: dict | None) -> dict:
    out = {}
    for k, v in (props or {}).items():
        if v is None:
            continue
        if isinstance(v, bool):
            out[str(k)] = "true" if v else "false"
        elif isinstance(v, (dict, list)):
            out[str(k)] = json.dumps(v, separators=(",", ":"))
        else:
            out[str(k)] = str(v)
    return out


def _geojson_features(doc: dict):
    if doc.get("type") == "FeatureCollection":
        return doc.get("features") or []
    if doc.get("type") == "Feature":
        return [doc]
    return []


def _detect_geojson_crs(doc: dict) -> int:
    name = ((doc.get("crs") or {}).get("properties") or {}).get("name")
    return crs_to_epsg_py(name) or 4326 if name else 4326


def _esri_geometry(geom: dict):
    """Esri JSON geometry -> (geojson_type, coordinates)."""
    if geom is None:
        return None, None
    if "x" in geom and "y" in geom:
        return "Point", [geom["x"], geom["y"]]
    if "points" in geom:
        return "MultiPoint", geom["points"]
    if "paths" in geom:
        paths = geom["paths"]
        return ("LineString", paths[0]) if len(paths) == 1 else ("MultiLineString", paths)
    if "rings" in geom:
        return "Polygon", geom["rings"]
    return None, None


def _parse_vector_file(path: str):
    """Non-JSON vector formats -> yields (gt, coords, props, epsg)."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".shp":
        from .shapefile import read_shapefile

        yield from read_shapefile(path)
    elif ext == ".gpkg":
        from .gpkg import read_gpkg

        yield from read_gpkg(path)


def _parse_zip(path: str, source_name: str, authority: str):
    """S3 ZIP expansion (etl/download_http.py:103-128,
    etl/stage_files.py:645-686): extract, then try candidates in priority
    order gpkg > shp > geojson > json; first candidate yielding rows wins.
    """
    import tempfile
    import zipfile

    max_extract = 5000 * 1024 * 1024  # mirror the download cap (http_utils.py:40)
    with tempfile.TemporaryDirectory() as tmp:
        try:
            with zipfile.ZipFile(path) as z:
                # zip-bomb guard: declared expansion size capped BEFORE
                # extraction, and no absolute/parent-escaping members
                infos = z.infolist()
                if sum(i.file_size for i in infos) > max_extract:
                    return
                for i in infos:
                    name = i.filename
                    if name.startswith(("/", "\\")) or ".." in name.split("/"):
                        return
                z.extractall(tmp)
        except zipfile.BadZipFile:
            return
        prio = {".gpkg": 0, ".shp": 1, ".geojson": 2, ".json": 3}
        candidates = []
        for root, _d, names in os.walk(tmp):
            for n in names:
                e = os.path.splitext(n)[1].lower()
                if e in prio:
                    candidates.append(os.path.join(root, n))
        candidates.sort(key=lambda p: (prio[os.path.splitext(p)[1].lower()], p))
        for cand in candidates:
            try:
                rows = list(_parse_one_file(cand, source_name, authority))
            except Exception:
                # first candidate YIELDING ROWS wins (stage_files.py:654-673):
                # an unreadable candidate (AppleDouble ._foo.shp, corrupt
                # gpkg) must fall through to the next, not kill the task
                continue
            if rows:
                yield from rows
                return


def _parse_one_file(path: str, source_name: str, authority: str):
    ext = os.path.splitext(path)[1].lower()
    if ext == ".zip":
        yield from _parse_zip(path, source_name, authority)
        return
    if ext in (".shp", ".gpkg"):
        for i, (gt, coords, props, epsg) in enumerate(_parse_vector_file(path)):
            try:
                wkb = wkb_dumps(gt, coords)
                env = _envelope(gt, coords)  # inside: empty coords raise too
            except (ValueError, KeyError, TypeError, IndexError):
                continue
            yield (i, source_name, authority, gt, wkb,
                   env, int(epsg),
                   _props_to_str_map(props))
        return

    size = os.path.getsize(path)
    if size > MAX_JSON_BYTES or size == 0:
        return
    try:
        with open(path, "rb") as f:
            raw = f.read()
    except OSError:
        return
    yield from parse_json_content(raw, source_name, authority)


def parse_json_content(raw: bytes | str, source_name: str, authority: str):
    """GeoJSON / Esri JSON document *content* -> canonical feature tuples.

    Shared by the batch file connector (above) and the streaming ingest
    (`op_etl_spark.streaming.ingest`), which receives whole-file content
    from the `text`/`binaryFile` stream source rather than a local path.
    """
    if isinstance(raw, str):
        raw = raw.encode("utf-8")
    if len(raw) > MAX_JSON_BYTES or not raw:
        return
    try:
        doc = json.loads(raw)
    except ValueError:
        return
    if not isinstance(doc, dict):
        return

    if "features" in doc and isinstance(doc.get("features"), list) and (
        doc.get("type") != "FeatureCollection"
    ):
        # Esri JSON FeatureSet
        sr = (doc.get("spatialReference") or {}).get("wkid") or _ESRI_WKID_DEFAULT
        for i, feat in enumerate(doc["features"]):
            gt, coords = _esri_geometry(feat.get("geometry"))
            if gt is None:
                continue
            try:
                wkb = wkb_dumps(gt, coords)
                env = _envelope(gt, coords)
            except (ValueError, KeyError, TypeError, IndexError):
                continue
            yield (i, source_name, authority, gt, wkb,
                   env, int(sr),
                   _props_to_str_map(feat.get("attributes")))
    else:
        crs = _detect_geojson_crs(doc)
        for i, feat in enumerate(_geojson_features(doc)):
            geom = feat.get("geometry") or {}
            gt, coords = geom.get("type"), geom.get("coordinates")
            if gt is None or coords is None:
                continue
            try:
                wkb = wkb_dumps(gt, coords)
                env = _envelope(gt, coords)
            except (ValueError, KeyError, TypeError, IndexError):
                continue
            yield (i, source_name, authority, gt, wkb,
                   env, crs,
                   _props_to_str_map(feat.get("properties")))


def read_feature_files(spark: SparkSession, files: list[dict]) -> DataFrame:
    """files: [{"path":..., "source_name":..., "authority":...}, ...] ->
    canonical feature DataFrame, parsed distributed (one file per task)."""
    from op_etl_spark.session import ensure_shipped, local_frame

    ensure_shipped(spark)
    plan = local_frame(
        spark,
        [(f["path"], f["source_name"], f["authority"]) for f in files],
        "path string, source_name string, authority string",
    ).repartition(max(len(files), 1))

    def parse(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for path, sname, auth in zip(pdf["path"], pdf["source_name"], pdf["authority"]):
                for row in _parse_one_file(path, sname, auth) or ():
                    fid, sn, au, gt, wkb, env, crs, props = row
                    rows.append(
                        {
                            "feature_id": fid,
                            "source_name": sn,
                            "authority": au,
                            "geom_type": gt,
                            "geometry": wkb,
                            "bbox": {
                                "xmin": env[0], "ymin": env[1],
                                "xmax": env[2], "ymax": env[3],
                            },
                            "crs": crs,
                            "props": props,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "feature_id", "source_name", "authority", "geom_type",
                    "geometry", "bbox", "crs", "props",
                ],
            )

    return plan.mapInPandas(parse, FEATURE_DDL)
