"""WFS 2.0 GetFeature connector (reference S11: etl/download_wfs.py).

Per-typename GetFeature with `outputFormat=application/json`, bbox +
srsName pushdown (etl/download_wfs.py:146-151, 216-220); typenames fan
out across executors (each GetFeature is one task). Service-URL mode
discovers typenames via GetCapabilities; direct-URL mode takes the list
from the source spec (etl/download_wfs.py:139-173).

GML fallback (etl/download_wfs.py:33-39): when a service ignores the JSON
outputFormat, the XML body is parsed with the engine's guarded XML parser
(functions/xml_guards) and point/posList geometries are extracted; richer
GML support is deliberately bounded, matching the reference's
"save it and hope" fallback depth.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from op_etl_spark.functions.crs import crs_to_epsg_py
from op_etl_spark.geometry.wkb import envelope as _envelope
from op_etl_spark.geometry.wkb import wkb_dumps

from .geojson import _props_to_str_map
from .pagination import fetch_parallelism
from .schema import FEATURE_DDL

TextFetcher = Callable[[str, dict], str]


def build_wfs_params(typename: str, bbox: tuple | None = None,
                     srs_name: str = "EPSG:3006") -> dict:
    p = {
        "service": "WFS",
        "version": "2.0.0",
        "request": "GetFeature",
        "typeNames": typename,
        "outputFormat": "application/json",
        "srsName": srs_name,
    }
    if bbox:
        p["bbox"] = ",".join(str(v) for v in bbox) + f",{srs_name}"
    return p


def discover_typenames(text_fetcher: TextFetcher, base_url: str) -> list[str]:
    """GetCapabilities -> FeatureType names (etl/download_wfs.py:202-235)."""
    from op_etl_spark.functions.xml_guards import safe_xml_parse

    body = text_fetcher(
        base_url, {"service": "WFS", "request": "GetCapabilities"}
    )
    root = safe_xml_parse(body)
    if root is None:
        return []
    names = []
    for el in root.iter():
        if el.tag.endswith("FeatureType"):
            for child in el:
                if child.tag.endswith("Name") and child.text:
                    names.append(child.text.strip())
    return names


def _pos_list(el) -> list:
    vals = [float(v) for v in el.text.split()]
    return [[vals[i], vals[i + 1]] for i in range(0, len(vals) - 1, 2)]


def _gml_features(body: str):
    """Bounded GML fallback: gml:Polygon (exterior + interior rings),
    gml:pos points, gml:posList lines."""
    from op_etl_spark.functions.xml_guards import safe_xml_parse

    root = safe_xml_parse(body)
    if root is None:
        return
    for member in root.iter():
        if not (member.tag.endswith("member") or member.tag.endswith("featureMember")):
            continue
        # a polygon's rings are posList elements too — consume them as
        # polygon structure, not as standalone LineStrings
        consumed = set()
        for poly in member.iter():
            if not poly.tag.endswith("Polygon"):
                continue
            rings = []
            for el in poly.iter():
                if el.tag.endswith("posList") and el.text:
                    consumed.add(id(el))
                    ring = _pos_list(el)
                    if len(ring) >= 4:
                        rings.append(ring)
            if rings:
                yield "Polygon", rings, {}
        for el in member.iter():
            if id(el) in consumed:
                continue
            if el.tag.endswith("pos") and el.text:
                vals = [float(v) for v in el.text.split()]
                if len(vals) >= 2:
                    yield "Point", [vals[0], vals[1]], {}
            elif el.tag.endswith("posList") and el.text:
                pts = _pos_list(el)
                if len(pts) >= 2:
                    yield "LineString", pts, {}


def _parse_wfs_body(body: str, srs_name: str):
    """JSON GetFeature response, or GML fallback rows."""
    default_epsg = crs_to_epsg_py(srs_name) or 3006
    try:
        doc = json.loads(body)
    except ValueError:
        if "ExceptionReport" in body:  # whole body: no fixed-window bypass
            # OWS error served with HTTP 200: raise so the source records
            # a FAILURE, not a silent success-with-zero-rows
            raise ValueError(f"WFS ExceptionReport: {body[:300]!r}") from None
        for gt, coords, props in _gml_features(body):
            yield gt, coords, props, default_epsg
        return
    crs_name = ((doc.get("crs") or {}).get("properties") or {}).get("name")
    epsg = (crs_to_epsg_py(crs_name) if crs_name else None) or default_epsg
    for feat in doc.get("features") or []:
        geom = feat.get("geometry") or {}
        gt, coords = geom.get("type"), geom.get("coordinates")
        if gt is None or coords is None:
            continue
        yield gt, coords, feat.get("properties") or {}, epsg


def read_wfs(
    spark: SparkSession,
    base_url: str,
    typenames: list[str],
    source_name: str,
    authority: str,
    text_fetcher: TextFetcher,
    bbox: tuple | None = None,
    srs_name: str = "EPSG:3006",
) -> DataFrame:
    """Typenames fan out across executors; each task runs one GetFeature."""
    from op_etl_spark.session import ensure_shipped, local_frame

    ensure_shipped(spark)
    if not typenames:
        return local_frame(spark, [], FEATURE_DDL)
    plan = local_frame(
        spark, [(t,) for t in typenames], "typename string"
    ).repartition(fetch_parallelism(len(typenames)))
    bbox_l = list(bbox) if bbox else None

    def fetch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "feature_id", "source_name", "authority", "geom_type",
            "geometry", "bbox", "crs", "props",
        ]
        for pdf in batches:
            rows = []
            for tn in pdf["typename"]:
                body = text_fetcher(
                    base_url,
                    build_wfs_params(tn, tuple(bbox_l) if bbox_l else None, srs_name),
                )
                for i, (gt, coords, props, epsg) in enumerate(
                    _parse_wfs_body(body, srs_name)
                ):
                    try:
                        wkb = wkb_dumps(gt, coords)
                        env = _envelope(gt, coords)  # empty coords raise here
                    except (ValueError, KeyError, TypeError, IndexError):
                        continue
                    rows.append(
                        {
                            "feature_id": i,
                            "source_name": source_name,
                            "authority": authority,
                            "geom_type": gt,
                            "geometry": wkb,
                            "bbox": {"xmin": env[0], "ymin": env[1],
                                     "xmax": env[2], "ymax": env[3]},
                            "crs": int(epsg),
                            "props": _props_to_str_map(props),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return plan.mapInPandas(fetch, FEATURE_DDL)
