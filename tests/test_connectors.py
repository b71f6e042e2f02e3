"""Source connectors: REST / OGC / WFS against local mock services
(FIXTURES.md F3/F4 scenarios: offset pages, OID fallback, next-link
chains, crs re-append, include-pattern discovery), what every reader
puts on its rows, the ZIP guard, and the one builder of the canonical
feature row."""

from __future__ import annotations

import ast
import io
import json
import os
import zipfile

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
from op_etl_spark.sources.wfs import read_wfs

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


# --- a feature whose geometry cannot be encoded ---

EMPTY_AND_VALID_GEOJSON = {
    "type": "FeatureCollection",
    "features": [
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": []},
         "properties": {"n": 0}},
        {"type": "Feature", "geometry": {"type": "Point", "coordinates": [15.0, 60.0]},
         "properties": {"n": 1}},
    ],
}
EMPTY_AND_VALID_ESRI = {
    "spatialReference": {"wkid": 3006},
    "features": [
        {"attributes": {"n": 0}, "geometry": {"rings": []}},
        {"attributes": {"n": 1}, "geometry": {"x": 500000.0, "y": 6500000.0}},
    ],
}


def empty_and_valid_rest(url: str, params: dict) -> dict:
    return {"count": 2} if params.get("returnCountOnly") else EMPTY_AND_VALID_ESRI


def empty_and_valid_ogc(url: str, params: dict) -> dict:
    return EMPTY_AND_VALID_GEOJSON


def empty_and_valid_wfs(url: str, params: dict) -> str:
    return json.dumps(EMPTY_AND_VALID_GEOJSON)


def _file(spark, tmp_path, doc, name):
    from op_etl_spark.run import default_connectors

    path = tmp_path / name
    path.write_text(json.dumps(doc))
    return default_connectors()["file"](
        spark, {"name": "f", "authority": "F1", "raw": {"paths": [str(path)]}})


def _stream(spark, tmp_path):
    from op_etl_spark.streaming import ingest

    downloads = tmp_path / "downloads"
    downloads.mkdir()
    (downloads / "s.geojson").write_text(json.dumps(EMPTY_AND_VALID_GEOJSON))
    staging = str(tmp_path / "staging")
    feats = ingest.stream_feature_files(spark, str(downloads))
    ingest.start_staging_stream(
        feats, staging, str(tmp_path / "ckpt"), available_now=True
    ).awaitTermination(120)
    return spark.read.parquet(staging)


MALFORMED_READERS = {
    "file_geojson": lambda spark, tmp: _file(spark, tmp, EMPTY_AND_VALID_GEOJSON, "f.geojson"),
    "file_esri": lambda spark, tmp: _file(spark, tmp, EMPTY_AND_VALID_ESRI, "f.json"),
    "rest": lambda spark, tmp: read_rest_layer(
        spark, "http://mock/0", "r", "R1", fetcher=empty_and_valid_rest),
    "ogc": lambda spark, tmp: read_collections(
        spark, OGC_BASE, ["c"], "o", "O1", fetcher=empty_and_valid_ogc),
    "wfs": lambda spark, tmp: read_wfs(
        spark, "http://mock/wfs", ["ms:t"], "w", "W1", text_fetcher=empty_and_valid_wfs),
    "stream": _stream,
}


@pytest.mark.parametrize("reader", sorted(MALFORMED_READERS))
def test_readers_skip_a_feature_whose_geometry_cannot_be_encoded(spark, tmp_path, reader):
    """One feature with empty coordinates must not fail its source: every
    reader returns the valid feature next to it, and only that one."""
    rows = MALFORMED_READERS[reader](spark, tmp_path).collect()
    assert [r.props["n"] for r in rows] == ["1"]


def test_empty_coordinates_skipped_not_crash():
    from op_etl_spark.sources.geojson import parse_json_content
    from op_etl_spark.sources.wfs import _parse_wfs_body

    body = json.dumps(
        {
            "type": "FeatureCollection",
            "features": [
                {"type": "Feature",
                 "geometry": {"type": "LineString", "coordinates": []},
                 "properties": {}},
                {"type": "Feature",
                 "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
                 "properties": {}},
            ],
        }
    )
    rows = list(_parse_wfs_body(body, "EPSG:3006"))
    # the parser yields both; `feature_row` returns None for the empty one
    out = [r for r in parse_json_content(body, "s", "a") if r is not None]
    assert len(out) == 1 and out[0]["geom_type"] == "Point"
    assert len(rows) == 2


# --- ZIP archives: candidate fall-through and the one guard ---

def _lying_infolist(declared: int):
    """`ZipFile.infolist` whose members all declare `declared` bytes."""
    orig = zipfile.ZipFile.infolist

    def lying(self):
        infos = orig(self)
        for i in infos:
            i.file_size = declared
        return infos

    return orig, lying


def test_unreadable_first_candidate_falls_through(tmp_path):
    from op_etl_spark.sources.geojson import _parse_one_file

    buf = io.BytesIO()
    good = {
        "type": "FeatureCollection",
        "features": [
            {"type": "Feature",
             "geometry": {"type": "Point", "coordinates": [1.0, 2.0]},
             "properties": {}}
        ],
    }
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("_bad.shp", b"\x00\x01 not a shapefile")  # sorts first
        z.writestr("data.geojson", json.dumps(good))
    p = tmp_path / "pkg.zip"
    p.write_bytes(buf.getvalue())
    rows = list(_parse_one_file(str(p), "s", "a"))
    assert len(rows) == 1 and rows[0]["geom_type"] == "Point"


def test_zip_bomb_declared_size_rejected(tmp_path):
    from op_etl_spark.sources.geojson import _parse_zip

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("huge.json", "{}")
    p = tmp_path / "b.zip"
    p.write_bytes(buf.getvalue())

    orig, lying = _lying_infolist(6000 * 1024 * 1024)  # declared 6 GB
    zipfile.ZipFile.infolist = lying
    try:
        assert list(_parse_zip(str(p), "s", "a")) == []
    finally:
        zipfile.ZipFile.infolist = orig


def test_path_traversal_member_rejected(tmp_path):
    from op_etl_spark.sources.geojson import _parse_zip

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("../escape.json", "{}")
    p = tmp_path / "t.zip"
    p.write_bytes(buf.getvalue())
    assert list(_parse_zip(str(p), "s", "a")) == []
    assert not os.path.exists(tmp_path.parent / "escape.json")


def test_driver_extract_zip_rejects_bomb(tmp_path):
    from op_etl_spark.sources.download import extract_zip

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("x.json", "{}")
    p = tmp_path / "b.zip"
    p.write_bytes(buf.getvalue())

    orig, lying = _lying_infolist(6000 * 1024 * 1024)
    zipfile.ZipFile.infolist = lying
    try:
        with pytest.raises(ValueError, match="size cap"):
            extract_zip(str(p))
    finally:
        zipfile.ZipFile.infolist = orig


# --- the typed-column REST data source ---

def test_truncating_server_repages_within_batch(spark):
    """A server with maxRecordCount below page_size truncates each OID
    batch; the reader must resultOffset-loop until complete."""
    spark.dataSource.register_called = True
    from op_etl_spark.sources.rest_datasource import ArcGISRestDataSource

    spark.dataSource.register(ArcGISRestDataSource)
    df = (
        spark.read.format("arcgis_rest")
        .option("url", "http://mock/FeatureServer/0")
        .option("fetcher", "mock_rest_server:fetch_truncating")
        .option("page_size", "50")  # one partition for all 35 rows
        .load()
    )
    import mock_rest_server as mock

    got = sorted(r.OBJECTID for r in df.collect())
    assert got == sorted(r["OBJECTID"] for r in mock.ROWS)


# --- one builder of the canonical row ---

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "op_etl_spark")
ROW_GUARDED = ("wkb_dumps", "envelope", "mapInPandas")


def _row_calls(tree: ast.AST) -> dict:
    """{guarded name: {top-level function names whose body calls it}}."""
    out = {n: set() for n in ROW_GUARDED}
    for top in tree.body:
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
                if name in out:
                    out[name].add(getattr(top, "name", "<module>"))
    return out


def test_guard_sees_the_calls():
    src = (
        "def f(gt, c):\n    return wkb_dumps(gt, c), wkb.envelope(gt, c)\n"
        "def g(df):\n    return df.mapInPandas(h, 'a int')\n"
        "X = wkb_dumps('Point', [0, 0])\n"
    )
    assert _row_calls(ast.parse(src)) == {
        "wkb_dumps": {"f", "<module>"},
        "envelope": {"f"},
        "mapInPandas": {"g"},
    }


def test_connectors_build_rows_only_through_schema():
    """Under sources/ and streaming/, WKB encoding and the envelope happen
    only in `schema.feature_row`, and the executor fan-out only in
    `schema.map_features`. `rest_datasource.py` is outside: its
    `arcgis_rest` format emits typed attribute columns, not feature rows."""
    found = {}
    for pkg in ("sources", "streaming"):
        for name in sorted(os.listdir(os.path.join(PKG, pkg))):
            if not name.endswith(".py") or name == "rest_datasource.py":
                continue
            with open(os.path.join(PKG, pkg, name)) as f:
                calls = _row_calls(ast.parse(f.read(), name))
            for guarded, funcs in calls.items():
                for func in funcs:
                    found.setdefault(guarded, set()).add(f"{pkg}/{name}:{func}")
    assert found == {
        "wkb_dumps": {"sources/schema.py:feature_row"},
        "envelope": {"sources/schema.py:feature_row"},
        "mapInPandas": {"sources/schema.py:map_features"},
    }
