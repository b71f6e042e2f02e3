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
 - size/depth guards (etl/http_utils.py:398-441): an oversized, corrupt
   or unsafe file yields zero rows rather than failing the job
   (continue-on-failure semantics, config.yaml:130), and a feature whose
   geometry cannot be encoded is skipped.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from op_etl_spark.functions.crs import crs_to_epsg_py

from .schema import fan_out, feature_row

MAX_JSON_BYTES = 50 * 1024 * 1024  # etl/http_utils.py:398 (50 MB parse cap)


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


def esri_rows(doc: dict, source_name: str, authority: str, start_id: int = 0):
    """Esri JSON FeatureSet (a file, or one REST query page) -> `feature_row`
    results; feature ids count from `start_id` in page order. A FeatureSet
    without a `spatialReference` is SWEREF99 TM, as the reference stages
    everything."""
    sr = (doc.get("spatialReference") or {}).get("wkid") or 3006
    for i, feat in enumerate(doc.get("features") or []):
        gt, coords = _esri_geometry(feat.get("geometry"))
        yield feature_row(start_id + i, source_name, authority, gt, coords, sr,
                          feat.get("attributes"))


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
    An archive the download step's guard refuses yields no rows.
    """
    import tempfile
    import zipfile

    from .download import safe_zip_members

    with tempfile.TemporaryDirectory() as tmp:
        try:
            with zipfile.ZipFile(path) as z:
                for member in safe_zip_members(z, path):
                    z.extract(member, tmp)
        except (zipfile.BadZipFile, ValueError):
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
                rows = [r for r in _parse_one_file(cand, source_name, authority)
                        if r is not None]
            except Exception:
                # first candidate YIELDING ROWS wins (stage_files.py:654-673):
                # an unreadable candidate (AppleDouble ._foo.shp, corrupt
                # gpkg) must fall through to the next, not kill the task
                continue
            if rows:
                yield from rows
                return


def _parse_one_file(path: str, source_name: str, authority: str):
    """One landed file -> `feature_row` results."""
    ext = os.path.splitext(path)[1].lower()
    if ext == ".zip":
        yield from _parse_zip(path, source_name, authority)
        return
    if ext in (".shp", ".gpkg"):
        for i, (gt, coords, props, epsg) in enumerate(_parse_vector_file(path)):
            yield feature_row(i, source_name, authority, gt, coords, epsg, props)
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
    """GeoJSON / Esri JSON document *content* -> `feature_row` results.

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
        yield from esri_rows(doc, source_name, authority)
    else:
        crs = _detect_geojson_crs(doc)
        for i, feat in enumerate(_geojson_features(doc)):
            geom = feat.get("geometry") or {}
            yield feature_row(i, source_name, authority, geom.get("type"),
                              geom.get("coordinates"), crs, feat.get("properties"))


def read_feature_files(spark: SparkSession, files: list[dict]) -> DataFrame:
    """files: [{"path":..., "source_name":..., "authority":...}, ...] ->
    canonical feature DataFrame, parsed distributed (one file per task)."""
    return fan_out(
        spark,
        [(f["path"], f["source_name"], f["authority"]) for f in files],
        "path string, source_name string, authority string",
        len(files),
        _parse_one_file,
    )
