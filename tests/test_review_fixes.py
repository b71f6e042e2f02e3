"""Regression tests for defects found in the connector-layer review:
XML guard bypass, Atom enclosure mis-routing, shapefile multi-island
polygons, GPKG silent wrong-table fallback, missing-.dbf truncation, WFS
ExceptionReport silent-success (the ZIP and connector cases live in
tests/test_connectors.py)."""

from __future__ import annotations

import struct

import pytest

from op_etl_spark.functions.xml_guards import safe_xml_parse
from op_etl_spark.sources.atom import parse_feed
from op_etl_spark.sources.shapefile import _assemble_polygons, read_shapefile
from op_etl_spark.sources.wfs import _parse_wfs_body


class TestXmlGuardBypass:
    def test_doctype_beyond_4k_still_rejected(self):
        pad = "<!-- " + "x" * 5000 + " -->"
        body = (
            f"{pad}<!DOCTYPE lolz [<!ENTITY a 'aaaa'>]>"
            "<feed><entry>&a;</entry></feed>"
        )
        assert safe_xml_parse(body) is None

    def test_lowercase_doctype_rejected(self):
        assert safe_xml_parse("<!doctype x [<!entity a 'b'>]><r>&a;</r>") is None

    def test_plain_feed_still_parses(self):
        assert safe_xml_parse("<feed><entry/></feed>") is not None


class TestAtomEnclosureRouting:
    FEED = """<?xml version="1.0"?>
    <feed xmlns="http://www.w3.org/2005/Atom">
      <entry>
        <title>reservat</title>
        <link rel="enclosure" type="application/zip"
              href="https://geo.example.se/wfs/export/naturreservat.zip"/>
        <link rel="alternate" href="https://geo.example.se/wfs?service=WFS"/>
      </entry>
    </feed>"""

    def test_zip_enclosure_is_file_even_on_wfs_path(self):
        routes = parse_feed(self.FEED, filter_services=True)
        by_url = {r.url: r.kind for r in routes}
        assert by_url["https://geo.example.se/wfs/export/naturreservat.zip"] == "file"
        assert by_url["https://geo.example.se/wfs?service=WFS"] == "wfs"


class TestShapefilePolygons:
    # CW ring (shapefile outer), y-up shoelace negative
    def _cw(self, x0, y0, s=10.0):
        return [[x0, y0], [x0, y0 + s], [x0 + s, y0 + s], [x0 + s, y0], [x0, y0]]

    def _ccw(self, x0, y0, s=2.0):
        return [[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s], [x0, y0]]

    def test_two_islands_become_multipolygon(self):
        gt, coords = _assemble_polygons([self._cw(0, 0), self._cw(100, 100)])
        assert gt == "MultiPolygon"
        assert len(coords) == 2 and all(len(p) == 1 for p in coords)

    def test_hole_assigned_to_containing_island(self):
        islands = [self._cw(0, 0), self._cw(100, 100)]
        hole = self._ccw(102, 102)
        gt, coords = _assemble_polygons(islands + [hole])
        assert gt == "MultiPolygon"
        with_hole = [p for p in coords if len(p) == 2]
        assert len(with_hole) == 1
        assert with_hole[0][0][0] == [100, 100]

    def test_single_ring_stays_polygon(self):
        gt, coords = _assemble_polygons([self._cw(0, 0)])
        assert gt == "Polygon" and len(coords) == 1


def _write_minimal_shp(path, points):
    """One-point-per-record shapefile (type 1)."""
    records = b""
    for i, (x, y) in enumerate(points, 1):
        content = struct.pack("<i2d", 1, x, y)
        records += struct.pack(">2i", i, len(content) // 2) + content
    header = struct.pack(">i5i", 9994, 0, 0, 0, 0, 0)
    header += struct.pack(">i", (100 + len(records)) // 2)
    header += struct.pack("<2i", 1000, 1)
    header += struct.pack("<8d", 0, 0, 0, 0, 0, 0, 0, 0)
    with open(path, "wb") as f:
        f.write(header + records)


class TestShapefileSidecars:
    def test_missing_dbf_does_not_truncate_geometries(self, tmp_path):
        shp = tmp_path / "pts.shp"
        _write_minimal_shp(str(shp), [(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)])
        rows = list(read_shapefile(str(shp)))
        assert len(rows) == 3
        assert all(props == {} for _, _, props, _ in rows)
        assert rows[0][3] == 3006  # assume-3006 default


class TestGpkgMissingTable:
    def test_named_missing_layer_raises(self, tmp_path):
        import sqlite3

        from op_etl_spark.sources.gpkg import read_gpkg

        db = tmp_path / "x.gpkg"
        con = sqlite3.connect(db)
        con.execute("CREATE TABLE gpkg_contents (table_name TEXT, data_type TEXT)")
        con.execute(
            "CREATE TABLE gpkg_geometry_columns (table_name TEXT, column_name TEXT, srs_id INT)"
        )
        con.execute("INSERT INTO gpkg_contents VALUES ('roads', 'features')")
        con.execute("INSERT INTO gpkg_geometry_columns VALUES ('roads', 'geom', 3006)")
        con.execute("CREATE TABLE roads (fid INT, geom BLOB)")
        con.commit()
        con.close()
        with pytest.raises(KeyError, match="nosuch"):
            list(read_gpkg(str(db), table="nosuch"))


class TestSecondReviewBatch:
    def test_select_candidates_dedups_same_layer_formats(self):
        from op_etl_spark.sources.download import select_candidates

        out = select_candidates(
            ["/x/roads.shp", "/x/roads.gpkg", "/x/rivers.geojson", "/x/readme.txt"]
        )
        assert out == ["/x/rivers.geojson", "/x/roads.gpkg"]

    def test_dest_path_triple_collision_never_overwrites(self, tmp_path):
        from op_etl_spark.sources.download import _dest_path

        fixed = lambda: 1700000000.0  # noqa: E731 - frozen clock, same second
        p1 = _dest_path(str(tmp_path), "a.zip", now=fixed)
        open(p1, "w").write("1")
        p2 = _dest_path(str(tmp_path), "a.zip", now=fixed)
        open(p2, "w").write("2")
        p3 = _dest_path(str(tmp_path), "a.zip", now=fixed)
        open(p3, "w").write("3")
        assert len({p1, p2, p3}) == 3
        assert sorted(f.read_text() for f in tmp_path.iterdir()) == ["1", "2", "3"]

    def test_salted_agg_refuses_non_decomposable(self, spark):
        from pyspark.sql import functions as F

        from op_etl_spark.operators.scale import salted_agg
        from op_etl_spark.session import read_events

        ev = read_events(spark, "/root/testdata/sf0.001").select("user_id", "event_id", "value")
        with pytest.raises(ValueError, match="avg"):
            salted_agg(ev, "user_id", {"m": F.avg("value")}, salt_col="event_id")

    def test_wfs_exception_report_found_past_4k(self):
        pad = "<!-- " + "y" * 5000 + " -->"
        body = pad + "<ows:ExceptionReport><ows:Exception/></ows:ExceptionReport>"
        with pytest.raises(ValueError, match="ExceptionReport"):
            list(_parse_wfs_body(body, "EPSG:3006"))


class TestPipelineStalePartitions:
    def test_filtered_rerun_does_not_leak_previous_sources(self, spark, tmp_path):
        import json as _json

        from op_etl_spark.plans.pipeline import Pipeline
        from op_etl_spark.sources.geojson import read_feature_files

        def mk_geojson(name):
            p = tmp_path / f"{name}.geojson"
            p.write_text(_json.dumps({
                "type": "FeatureCollection",
                "crs": {"type": "name", "properties": {"name": "EPSG:3006"}},
                "features": [
                    {"type": "Feature",
                     "geometry": {"type": "Point",
                                  "coordinates": [400000.0, 6500000.0]},
                     "properties": {"src": name}},
                ],
            }))
            return str(p)

        def file_conn(sp, src):
            return read_feature_files(
                sp,
                [{"path": src["raw"]["paths"][0], "source_name": src["name"],
                  "authority": src["authority"]}],
            )

        cfg = {
            "workspaces": {"downloads": str(tmp_path / "d"), "staging": str(tmp_path / "s")},
            "sources": [
                {"name": "alpha", "authority": "A1", "type": "file", "enabled": True,
                 "raw": {"paths": [mk_geojson("alpha")]}},
                {"name": "beta", "authority": "B1", "type": "file", "enabled": True,
                 "raw": {"paths": [mk_geojson("beta")]}},
            ],
        }
        from op_etl_spark.config.loader import normalize_source

        cfg["sources"] = [normalize_source(s, cfg) for s in cfg["sources"]]
        ws = str(tmp_path / "ws")

        pipe = Pipeline(spark, cfg, {"file": file_conn})
        out1 = pipe.run(ws)
        assert set(out1["loaded"]) == {"alpha", "beta"}

        # second run restricted to authority A1: beta's staged partition
        # from run 1 must NOT flow into processed/loaded again
        out2 = pipe.run(ws, authority="A1")
        assert set(out2["loaded"]) == {"alpha"}
        processed = spark.read.parquet(out2["processed"])
        names = {r.source_name for r in processed.select("source_name").distinct().collect()}
        assert names == {"alpha"}


class TestGmlPolygons:
    GML = """<?xml version="1.0"?>
    <wfs:FeatureCollection xmlns:wfs="http://www.opengis.net/wfs/2.0"
                           xmlns:gml="http://www.opengis.net/gml/3.2">
      <wfs:member>
        <f:zone xmlns:f="http://x">
          <f:geom>
            <gml:Polygon>
              <gml:exterior><gml:LinearRing>
                <gml:posList>0 0 0 10 10 10 10 0 0 0</gml:posList>
              </gml:LinearRing></gml:exterior>
              <gml:interior><gml:LinearRing>
                <gml:posList>2 2 2 4 4 4 4 2 2 2</gml:posList>
              </gml:LinearRing></gml:interior>
            </gml:Polygon>
          </f:geom>
        </f:zone>
      </wfs:member>
      <wfs:member>
        <f:road xmlns:f="http://x">
          <gml:LineString><gml:posList>0 0 5 5</gml:posList></gml:LineString>
        </f:road>
      </wfs:member>
    </wfs:FeatureCollection>"""

    def test_polygon_rings_not_emitted_as_linestrings(self):
        from op_etl_spark.sources.wfs import _gml_features

        feats = list(_gml_features(self.GML))
        kinds = [gt for gt, _, _ in feats]
        assert kinds == ["Polygon", "LineString"]
        _, rings, _ = feats[0]
        assert len(rings) == 2  # exterior + interior preserved
        assert rings[0][0] == [0.0, 0.0] and rings[1][0] == [2.0, 2.0]


class TestWfsExceptionReport:
    def test_exception_report_raises_not_silent_zero(self):
        body = (
            '<?xml version="1.0"?><ows:ExceptionReport '
            'xmlns:ows="http://www.opengis.net/ows/1.1">'
            "<ows:Exception exceptionCode=\"InvalidParameterValue\"/>"
            "</ows:ExceptionReport>"
        )
        with pytest.raises(ValueError, match="ExceptionReport"):
            list(_parse_wfs_body(body, "EPSG:3006"))
