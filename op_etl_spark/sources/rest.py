"""ArcGIS REST Feature/MapServer connector (reference S4-S8:
etl/download_rest.py), Spark-first.

Architecture: discovery and count/OID probes are driver-side metadata
calls (like JDBC table discovery); the feature fetch is a partitioned
DataFrame job — the pagination plan (pagination.py) becomes rows, a
`mapInPandas` stage fetches + parses each page on executors, yielding
canonical feature rows. Filter/column pushdown: the source spec's
`where` and `out_fields` travel into every page request
(P1/P2, etl/download_rest.py:78-79), and the bbox predicate is pushed as
envelope+intersects in the service's SR (P3, etl/download_rest.py:89-100).

The HTTP layer is injectable (`fetcher(url, params) -> dict`): production
uses urllib with the reference's retry/backoff policy; tests inject a
local mock serving Esri JSON pages, including `exceededTransferLimit`
fallback behavior (etl/download_rest.py:361-365: transfer-limit with a
partial page aborts offset paging and re-plans as OID batches).
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from op_etl_spark.geometry.wkb import envelope as _envelope
from op_etl_spark.geometry.wkb import wkb_dumps

from .geojson import _esri_geometry, _props_to_str_map
from .pagination import (
    PAGE_SIZE,
    fetch_parallelism,
    plan_offset_pages,
    plan_oid_batches,
)
from .schema import FEATURE_DDL

Fetcher = Callable[[str, dict], dict]


def default_fetcher(url: str, params: dict) -> dict:
    """urllib-based JSON fetcher with the reference's retry policy
    (etl/http_utils.py:170-179: 5 tries, backoff 0.5, retry on
    429/500/502/503/504) — one retry implementation, shared via
    sources.fetchers."""
    from .fetchers import default_json_fetcher

    return default_json_fetcher(url, params)


def build_rest_params(
    where: str = "1=1",
    out_fields: str = "*",
    bbox: tuple | None = None,
    in_sr: int = 3006,
    out_sr: int = 3006,
    fmt: str = "json",
) -> dict:
    """Query-parameter pushdown (etl/download_rest.py:72-103)."""
    params = {
        "where": where or "1=1",
        "outFields": out_fields or "*",
        "f": fmt,
        "returnGeometry": "true",
        "outSR": out_sr,
    }
    if bbox:
        params.update(
            {
                "geometry": ",".join(str(v) for v in bbox),
                "geometryType": "esriGeometryEnvelope",
                "spatialRel": "esriSpatialRelIntersects",
                "inSR": in_sr,
            }
        )
    return params


def probe_count(fetcher: Fetcher, layer_url: str, params: dict) -> int:
    """returnCountOnly probe (etl/download_rest.py:113)."""
    p = dict(params, returnCountOnly="true")
    p.pop("outFields", None)
    return int(fetcher(f"{layer_url}/query", p).get("count", 0))


def probe_oids(fetcher: Fetcher, layer_url: str, params: dict) -> tuple[str, list[int]]:
    """returnIdsOnly probe (etl/download_rest.py:389-396)."""
    p = dict(params, returnIdsOnly="true")
    p.pop("outFields", None)
    doc = fetcher(f"{layer_url}/query", p)
    return doc.get("objectIdFieldName", "OBJECTID"), list(doc.get("objectIds") or [])


def _esri_rows(doc: dict, source_name: str, authority: str, start_id: int):
    sr = (doc.get("spatialReference") or {}).get("wkid") or 3006
    for i, feat in enumerate(doc.get("features") or []):
        gt, coords = _esri_geometry(feat.get("geometry"))
        if gt is None:
            continue
        env = _envelope(gt, coords)
        yield {
            "feature_id": start_id + i,
            "source_name": source_name,
            "authority": authority,
            "geom_type": gt,
            "geometry": wkb_dumps(gt, coords),
            "bbox": {"xmin": env[0], "ymin": env[1], "xmax": env[2], "ymax": env[3]},
            "crs": int(sr),
            "props": _props_to_str_map(feat.get("attributes")),
        }


def read_rest_layer(
    spark: SparkSession,
    layer_url: str,
    source_name: str,
    authority: str,
    fetcher: Fetcher = default_fetcher,
    where: str = "1=1",
    out_fields: str = "*",
    bbox: tuple | None = None,
    out_sr: int = 3006,
    page_size: int = PAGE_SIZE,
    use_oid_pagination: bool | None = None,
) -> DataFrame:
    """One REST layer -> canonical feature DataFrame.

    Planning (driver): count probe decides offset vs OID pagination —
    OID batching when the layer advertises exceeded-transfer behavior or
    `use_oid_pagination` is forced; otherwise offset pages. Execution:
    one fetch task per page/batch, coalesced to the politeness cap.
    """
    from op_etl_spark.session import ensure_shipped, local_frame

    ensure_shipped(spark)
    base = build_rest_params(where, out_fields, bbox, out_sr=out_sr)

    if use_oid_pagination:
        oid_field, oids = probe_oids(fetcher, layer_url, base)
        batches = plan_oid_batches(oids, page_size)
        tasks = [
            (
                json.dumps(
                    dict(
                        base,
                        where=f"({base['where']}) AND ({b.where_fragment(oid_field)})",
                        resultRecordCount=page_size,
                    )
                ),
                idx * page_size,
            )
            for idx, b in enumerate(batches)
        ]
    else:
        total = probe_count(fetcher, layer_url, base)
        pages = plan_offset_pages(total, page_size)
        tasks = [
            (
                json.dumps(
                    dict(base, resultOffset=p.offset, resultRecordCount=p.size)
                ),
                p.offset,
            )
            for p in pages
        ]

    if not tasks:
        return local_frame(spark, [], FEATURE_DDL)

    plan = local_frame(
        spark, tasks, "params_json string, start_id long"
    ).repartition(fetch_parallelism(len(tasks)))

    def fetch(batches_it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "feature_id", "source_name", "authority", "geom_type",
            "geometry", "bbox", "crs", "props",
        ]
        for pdf in batches_it:
            rows = []
            for params_json, start_id in zip(pdf["params_json"], pdf["start_id"]):
                params = json.loads(params_json)
                # a server whose maxRecordCount is below our window size
                # truncates the page and sets exceededTransferLimit — keep
                # advancing resultOffset inside this task's window until
                # the server stops truncating, or rows silently go missing
                # (etl/download_rest.py:361-365 transfer-limit semantics)
                want = int(params.get("resultRecordCount", PAGE_SIZE))
                base_offset = int(params.get("resultOffset", 0))
                got = 0
                while True:
                    p = dict(params)
                    if "resultOffset" in params or got:
                        p["resultOffset"] = base_offset + got
                    p["resultRecordCount"] = want - got
                    doc = fetcher(f"{layer_url}/query", p)
                    feats = list(
                        _esri_rows(doc, source_name, authority, int(start_id) + got)
                    )
                    rows.extend(feats)
                    n_returned = len(doc.get("features") or [])
                    got += n_returned
                    if (
                        got >= want
                        or n_returned == 0
                        or not doc.get("exceededTransferLimit")
                    ):
                        break
            yield pd.DataFrame(rows, columns=cols)

    return plan.mapInPandas(fetch, FEATURE_DDL)


def count_sanity_check(
    fetcher: Fetcher,
    layer_url: str,
    base_params: dict,
    small_bbox: tuple,
    large_bbox: tuple,
    min_ratio: float = 0.1,
) -> dict:
    """A5 (etl/sr_utils.py:118-142): a smaller bbox must return fewer (or
    equal) features than a larger enclosing bbox, and not suspiciously
    few — a ratio under `min_ratio` flags an SR mismatch (bbox interpreted
    in the wrong CRS selects almost nothing)."""
    counts = {}
    for label, bbox in (("small", small_bbox), ("large", large_bbox)):
        p = build_rest_params(base_params.get("where", "1=1"), bbox=bbox)
        counts[label] = probe_count(fetcher, layer_url, p)
    ratio = counts["small"] / counts["large"] if counts["large"] else 0.0
    return {
        "small_count": counts["small"],
        "large_count": counts["large"],
        "ratio": ratio,
        "ok": counts["small"] <= counts["large"]
        and (counts["large"] == 0 or ratio >= min_ratio),
    }


def diagnose_rest_response(
    fetcher: Fetcher,
    layer_url: str,
    where: str = "1=1",
    bbox: tuple | None = None,
    in_sr: int = 3006,
    min_ratio: float = 0.0,
) -> dict:
    """Operator-facing debug probe (etl/download_rest.py:106-132): one
    returnCountOnly WITHOUT the bbox (layer total), one WITH it, and an
    over-filtering classification:

      - ``empty-layer``       total == 0: nothing to fetch at all
      - ``no-bbox``           no bbox configured, total reported only
      - ``bbox-excludes-all`` bbox count == 0 while the layer has rows —
        the reference's warning case; almost always the bbox interpreted
        in the wrong SR (the count_sanity_check A5 failure mode)
      - ``bbox-over-filtering`` ratio below ``min_ratio`` (opt-in
        stricter gate; 0.0 keeps reference behavior of only flagging 0)
      - ``ok``                otherwise

    Unlike `count_sanity_check` (two nested bboxes, automated gate), this
    is the diagnostic a user points at ONE misbehaving layer config."""
    total = probe_count(fetcher, layer_url, build_rest_params(where=where))
    out: dict = {"total_count": total, "bbox_count": None, "ratio": None}
    if total == 0:
        out["classification"] = "empty-layer"
        return out
    if bbox is None:
        out["classification"] = "no-bbox"
        return out
    n = probe_count(
        fetcher, layer_url, build_rest_params(where=where, bbox=bbox, in_sr=in_sr)
    )
    ratio = n / total
    out.update(bbox_count=n, ratio=ratio)
    if n == 0:
        out["classification"] = "bbox-excludes-all"
    elif ratio < min_ratio:
        out["classification"] = "bbox-over-filtering"
    else:
        out["classification"] = "ok"
    return out


def discover_layers(fetcher: Fetcher, base_url: str,
                    include: list[str] | None = None) -> list[dict]:
    """Layer discovery with fnmatch include patterns
    (etl/download_rest.py:215-260)."""
    import fnmatch

    doc = fetcher(base_url, {"f": "json"})
    layers = doc.get("layers") or []
    if not layers and "id" in doc:  # single-layer FeatureServer
        layers = [doc]
    out = []
    for lyr in layers:
        name = str(lyr.get("name", lyr.get("id")))
        if include and not any(fnmatch.fnmatchcase(name, p) for p in include):
            continue
        out.append({"id": lyr.get("id"), "name": name})
    return out
