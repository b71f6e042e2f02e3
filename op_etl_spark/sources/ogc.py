"""OGC API Features connector (reference S9/S10: etl/download_ogc.py).

Next-link pagination is an inherently sequential cursor (each page links
the next), so parallelism comes from fanning out across *collections*
(SURVEY.md §3: "collections fan out in parallel, cursors stay
sequential"). Each collection's cursor walk runs inside one executor task
via mapInPandas; the reference's per-page behaviors are preserved:
`crs` param re-appended on every next link (etl/download_ogc.py:301-310),
1000-page safety cap (:316), bbox+bbox-crs pushdown (:241-252), CRS84
default when the service lacks EPSG:3006 support (:230).
"""

from __future__ import annotations

import fnmatch
import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from op_etl_spark.functions.crs import crs_to_epsg_py
from op_etl_spark.geometry.wkb import envelope as _envelope
from op_etl_spark.geometry.wkb import wkb_dumps

from .geojson import _props_to_str_map
from .pagination import MAX_OGC_PAGES, fetch_parallelism
from .schema import FEATURE_DDL

Fetcher = Callable[[str, dict], dict]


def discover_collections(fetcher: Fetcher, base_url: str,
                         ids: list[str] | None = None,
                         include: list[str] | None = None) -> list[str]:
    """Collection discovery: explicit id list wins, else fnmatch include
    patterns on id/title (etl/download_ogc.py:127-142, 171-213)."""
    doc = fetcher(f"{base_url}/collections", {"f": "json"})
    cols = doc.get("collections") or []
    if ids:
        have = {c.get("id") for c in cols}
        return [i for i in ids if i in have]
    out = []
    for c in cols:
        cid = str(c.get("id"))
        title = str(c.get("title", cid))
        if include and not (
            any(fnmatch.fnmatchcase(cid, p) for p in include)
            or any(fnmatch.fnmatchcase(title, p) for p in include)
        ):
            continue
        out.append(cid)
    return out


def _walk_collection(
    fetcher: Fetcher,
    base_url: str,
    collection_id: str,
    source_name: str,
    authority: str,
    bbox: tuple | None,
    bbox_crs: str | None,
    crs_param: str | None,
    limit: int,
    delay_seconds: float = 0.0,
    sleeper=None,
):
    """`delay_seconds` paces sequential next-link requests WITHIN the
    cursor (reference `ogc_api_delay`, etl/download_ogc.py:70, 320-322) —
    `fetch_parallelism` caps concurrency ACROSS collections, but a single
    collection's page walk would otherwise hit the service back-to-back."""
    import time as _time

    sleeper = sleeper or _time.sleep
    params: dict = {"f": "json", "limit": limit}
    if bbox:
        params["bbox"] = ",".join(str(v) for v in bbox)
        if bbox_crs:
            params["bbox-crs"] = bbox_crs
    if crs_param:
        params["crs"] = crs_param

    url = f"{base_url}/collections/{collection_id}/items"
    fid = 0
    for _page in range(MAX_OGC_PAGES):
        if _page > 0 and delay_seconds > 0:
            sleeper(delay_seconds)
        doc = fetcher(url, params)
        declared = ((doc.get("crs") or {}) if isinstance(doc.get("crs"), dict) else {})
        crs_name = (declared.get("properties") or {}).get("name") if declared else doc.get("crs")
        epsg = crs_to_epsg_py(crs_name) if isinstance(crs_name, str) else None
        epsg = epsg or (crs_to_epsg_py(crs_param) if crs_param else None) or 4326
        for feat in doc.get("features") or []:
            geom = feat.get("geometry") or {}
            gt, coords = geom.get("type"), geom.get("coordinates")
            if gt is None or coords is None:
                continue
            env = _envelope(gt, coords)
            yield {
                "feature_id": fid,
                "source_name": source_name,
                "authority": authority,
                "geom_type": gt,
                "geometry": wkb_dumps(gt, coords),
                "bbox": {"xmin": env[0], "ymin": env[1], "xmax": env[2], "ymax": env[3]},
                "crs": int(epsg),
                "props": _props_to_str_map(feat.get("properties")),
            }
            fid += 1
        nxt = next(
            (l.get("href") for l in doc.get("links") or [] if l.get("rel") == "next"),
            None,
        )
        if not nxt:
            break
        url = nxt
        # next links must carry the crs param again (etl/download_ogc.py:301-310)
        params = {"crs": crs_param} if crs_param else {}


def read_collections(
    spark: SparkSession,
    base_url: str,
    collection_ids: list[str],
    source_name: str,
    authority: str,
    fetcher: Fetcher,
    bbox: tuple | None = None,
    bbox_crs: str | None = None,
    supports_epsg_3006: bool = False,
    limit: int = 1000,
    delay_seconds: float = 0.1,  # reference ogc_api_delay default (etl/download_ogc.py:70)
) -> DataFrame:
    """Fan collections out across executors; walk each cursor in-task."""
    from op_etl_spark.session import ensure_shipped, local_frame

    ensure_shipped(spark)
    crs_param = (
        "http://www.opengis.net/def/crs/EPSG/0/3006" if supports_epsg_3006 else None
    )
    if not collection_ids:
        return local_frame(spark, [], FEATURE_DDL)
    plan = local_frame(
        spark, [(c,) for c in collection_ids], "collection_id string"
    ).repartition(fetch_parallelism(len(collection_ids)))

    cfg = json.dumps(
        {
            "base_url": base_url,
            "source_name": source_name,
            "authority": authority,
            "bbox": list(bbox) if bbox else None,
            "bbox_crs": bbox_crs,
            "crs_param": crs_param,
            "limit": limit,
            "delay_seconds": delay_seconds,
        }
    )

    def fetch(batches_it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = json.loads(cfg)
        cols = [
            "feature_id", "source_name", "authority", "geom_type",
            "geometry", "bbox", "crs", "props",
        ]
        for pdf in batches_it:
            rows = []
            for cid in pdf["collection_id"]:
                rows.extend(
                    _walk_collection(
                        fetcher, c["base_url"], cid, c["source_name"],
                        c["authority"],
                        tuple(c["bbox"]) if c["bbox"] else None,
                        c["bbox_crs"], c["crs_param"], c["limit"],
                        c["delay_seconds"],
                    )
                )
            yield pd.DataFrame(rows, columns=cols)

    return plan.mapInPandas(fetch, FEATURE_DDL)
