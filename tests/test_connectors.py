"""REST / OGC connectors against local mock services (FIXTURES.md F3/F4
scenarios: offset pages, OID fallback, next-link chains, crs re-append,
include-pattern discovery)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from op_etl_spark.sources.ogc import discover_collections, read_collections
from op_etl_spark.sources.pagination import (
    plan_offset_pages,
    plan_oid_batches,
)
from op_etl_spark.sources.rest import (
    build_rest_params,
    discover_layers,
    read_rest_layer,
)

N_FEATURES = 2500
PAGE = 1000


def _esri_feature(i):
    return {
        "attributes": {"OBJECTID": i, "namn": f"obj {i}"},
        "geometry": {"x": 500000.0 + i, "y": 6500000.0 + i},
    }


def rest_mock(url: str, params: dict) -> dict:
    """Mock ArcGIS REST endpoint: 2500 point features."""
    if url.endswith("/query"):
        if params.get("returnCountOnly"):
            return {"count": N_FEATURES}
        if params.get("returnIdsOnly"):
            return {"objectIdFieldName": "OBJECTID",
                    "objectIds": list(range(N_FEATURES))}
        where = params.get("where", "1=1")
        if "OBJECTID IN (" in where:
            ids = [int(t) for t in where.split("OBJECTID IN (")[1].rstrip(")").split(",")]
            feats = [_esri_feature(i) for i in ids]
        else:
            off = int(params.get("resultOffset", 0))
            n = int(params.get("resultRecordCount", PAGE))
            feats = [_esri_feature(i) for i in range(off, min(off + n, N_FEATURES))]
        return {"spatialReference": {"wkid": 3006}, "features": feats}
    return {"layers": [{"id": 0, "name": "skyddad_natur"},
                       {"id": 1, "name": "vattenskydd"},
                       {"id": 2, "name": "other_layer"}]}


def test_pagination_plans():
    pages = plan_offset_pages(2500, 1000)
    assert [(p.offset, p.size) for p in pages] == [(0, 1000), (1000, 1000), (2000, 1000)]
    batches = plan_oid_batches(list(range(2500)), 1000)
    assert [len(b.oids) for b in batches] == [1000, 1000, 500]
    assert batches[0].where_fragment("OBJECTID").startswith("OBJECTID IN (0,1,")
    # safety cap
    assert len(plan_offset_pages(10_000_000, 1000)) == 1001


def test_rest_params_pushdown():
    p = build_rest_params("kommun='X'", "namn,id", (1, 2, 3, 4), in_sr=3006)
    assert p["where"] == "kommun='X'"
    assert p["outFields"] == "namn,id"
    assert p["geometry"] == "1,2,3,4"
    assert p["spatialRel"] == "esriSpatialRelIntersects"


def test_discover_layers_include():
    layers = discover_layers(rest_mock, "http://mock/FeatureServer", include=["*skydd*"])
    assert [l["name"] for l in layers] == ["skyddad_natur", "vattenskydd"]


def test_rest_offset_pagination(spark):
    df = read_rest_layer(
        spark, "http://mock/0", "skydd", "NVV", fetcher=rest_mock
    )
    assert df.count() == N_FEATURES
    row = df.filter(F.col("props.OBJECTID") == "42").first()
    assert row.crs == 3006 and row.geom_type == "Point"
    assert row.bbox.xmin == 500042.0


def test_rest_oid_pagination(spark):
    df = read_rest_layer(
        spark, "http://mock/0", "skydd", "NVV", fetcher=rest_mock,
        use_oid_pagination=True,
    )
    assert df.count() == N_FEATURES
    # all OIDs survive exactly once
    assert df.select("props.OBJECTID").distinct().count() == N_FEATURES


def rest_mock_truncating(url: str, params: dict) -> dict:
    """Server whose maxRecordCount is 300: every query response truncates
    to 300 rows and sets exceededTransferLimit — the connector must
    re-page inside each planned window or silently lose rows."""
    doc = rest_mock(url, params)
    if "features" not in doc:
        return doc
    feats = doc["features"]
    if "OBJECTID IN (" in params.get("where", ""):
        # the base mock ignores resultOffset for OID queries; a real
        # server honors it, so apply it here before truncating
        off = int(params.get("resultOffset", 0))
        feats = feats[off:]
    if len(feats) > 300:
        return dict(doc, features=feats[:300], exceededTransferLimit=True)
    return dict(doc, features=feats)


def test_rest_offset_pagination_survives_server_truncation(spark):
    df = read_rest_layer(
        spark, "http://mock/0", "skydd", "NVV", fetcher=rest_mock_truncating
    )
    assert df.count() == N_FEATURES
    assert df.select("props.OBJECTID").distinct().count() == N_FEATURES


def test_rest_oid_pagination_survives_server_truncation(spark):
    df = read_rest_layer(
        spark, "http://mock/0", "skydd", "NVV", fetcher=rest_mock_truncating,
        use_oid_pagination=True,
    )
    assert df.count() == N_FEATURES
    assert df.select("props.OBJECTID").distinct().count() == N_FEATURES


# --- OGC mock: 2 collections, 3 pages each via next links ---

OGC_BASE = "http://mock/ogc"


def ogc_mock(url: str, params: dict) -> dict:
    if url.endswith("/collections"):
        return {"collections": [
            {"id": "naturreservat", "title": "Naturreservat"},
            {"id": "vattenskydd", "title": "Vattenskyddsområden"},
            {"id": "irrelevant", "title": "Something else"},
        ]}
    # items pages: /collections/{cid}/items or ...?page=N
    cid = url.split("/collections/")[1].split("/")[0]
    page = int(params.get("_page", 0)) if "_page" in params else 0
    if "page=" in url:
        page = int(url.split("page=")[1])
    feats = [
        {
            "type": "Feature",
            "geometry": {"type": "Point", "coordinates": [14.0 + page, 57.0]},
            "properties": {"cid": cid, "page": page},
        }
        for _ in range(2)
    ]
    links = []
    if page < 2:
        links.append({"rel": "next", "href": f"{OGC_BASE}/collections/{cid}/items?page={page + 1}"})
    return {"type": "FeatureCollection", "features": feats, "links": links}


def test_ogc_discovery_patterns():
    assert discover_collections(ogc_mock, OGC_BASE, include=["*skydd*", "natur*"]) == [
        "naturreservat", "vattenskydd",
    ]
    assert discover_collections(ogc_mock, OGC_BASE, ids=["vattenskydd", "missing"]) == [
        "vattenskydd",
    ]


def test_ogc_next_link_walk(spark):
    df = read_collections(
        spark, OGC_BASE, ["naturreservat", "vattenskydd"],
        "sgu_ogc", "SGU", fetcher=ogc_mock,
    )
    rows = df.collect()
    assert len(rows) == 2 * 3 * 2  # 2 collections x 3 pages x 2 features
    assert {r["props"]["page"] for r in rows} == {"0", "1", "2"}
    assert all(r.crs == 4326 for r in rows)  # CRS84 default


def test_readers_stamp_the_given_authority(spark, tmp_path):
    """The load step routes a source by its spec's authority, and every
    connector passes that authority to its reader: each reader must put
    exactly it, with the source name, on every row it returns."""
    from test_wfs_atom_pipeline import wfs_mock

    from op_etl_spark.run import default_connectors
    from op_etl_spark.sources.wfs import read_wfs

    path = tmp_path / "f.geojson"
    path.write_text(
        '{"type": "FeatureCollection", "features": [{"type": "Feature", '
        '"geometry": {"type": "Point", "coordinates": [15.0, 60.0]}, "properties": {}}]}'
    )
    frames = {
        ("f", "F1"): default_connectors()["file"](
            spark, {"name": "f", "authority": "F1", "raw": {"paths": [str(path)]}}),
        ("r", "R1"): read_rest_layer(spark, "http://mock/0", "r", "R1", fetcher=rest_mock),
        ("o", "O1"): read_collections(
            spark, OGC_BASE, ["naturreservat"], "o", "O1", fetcher=ogc_mock),
        ("w", "W1"): read_wfs(
            spark, "http://mock/wfs", ["ms:naturreservat"], "w", "W1", text_fetcher=wfs_mock),
    }
    for want, df in frames.items():
        got = [tuple(r) for r in df.select("source_name", "authority").distinct().collect()]
        assert got == [want]
