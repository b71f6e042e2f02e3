"""End-to-end staging: GeoJSON/Esri JSON files -> canonical features ->
election -> magnitude validation -> reproject to 3006 -> staged parquet ->
truncate-and-load. The reference's stage+load path (SURVEY.md §3 entry
point 3) on real files."""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from op_etl_spark.geometry.ops import clip_to_aoi
from op_etl_spark.geometry.tm import geodetic_to_grid
from op_etl_spark.geometry.wkb import envelope, wkb_loads
from op_etl_spark.plans.pipeline import Pipeline
from op_etl_spark.plans.staging import (
    STAGED_SCHEMA,
    elect_geometry_type,
    stage_features,
    validate_magnitude,
)
from op_etl_spark.sinks.load import align_to_template
from op_etl_spark.session import local_frame
from op_etl_spark.sources.geojson import read_feature_files
from op_etl_spark.sources.schema import FEATURE_DDL
from tools.plan_audit import audit, plan_of

# AOI covering the first 4 Esri points (500000..503000) and the inside lines
AOI = (499000.0, 6499000.0, 503500.0, 6503500.0)


def _write_geojson(path, features, crs_name=None):
    doc = {"type": "FeatureCollection", "features": features}
    if crs_name:
        doc["crs"] = {"type": "name", "properties": {"name": crs_name}}
    with open(path, "w") as f:
        json.dump(doc, f)


def _pt(lon, lat, **props):
    return {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [lon, lat]},
        "properties": props,
    }


@pytest.fixture(scope="module")
def staged_inputs(tmp_path_factory):
    d = tmp_path_factory.mktemp("downloads")
    # source A: 18 valid WGS84 points, 2 polygons (minority -> dropped by
    # election), 1 out-of-bounds point (dropped by magnitude validation)
    feats = [_pt(14.0 + i * 0.1, 57.0 + i * 0.05, namn=f"punkt {i}", idx=i) for i in range(18)]
    feats.append(_pt(500.0, 57.0, namn="bad lon", idx=98))
    for j in range(2):
        feats.append(
            {
                "type": "Feature",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[14, 57], [15, 57], [15, 58], [14, 57]]],
                },
                "properties": {"namn": f"poly {j}"},
            }
        )
    _write_geojson(d / "nvv_skydd.geojson", feats)

    # source B: Esri JSON in SWEREF99 TM
    esri = {
        "spatialReference": {"wkid": 3006},
        "features": [
            {"attributes": {"id": i, "aktiv": True},
             "geometry": {"x": 500000.0 + i * 1000, "y": 6500000.0 + i * 1000}}
            for i in range(10)
        ],
    }
    with open(d / "raa_fornminnen.json", "w") as f:
        json.dump(esri, f)

    # source C: lines in SWEREF99 TM around AOI — inside, straddling its
    # east and north edges, outside, and one whose envelope meets the AOI
    # corner while the line itself passes outside it
    def line(coords, kind="LineString", **props):
        return {"type": "Feature", "geometry": {"type": kind, "coordinates": coords},
                "properties": props}

    lines = [
        line([[500000, 6500000 + k * 500], [501000.5, 6501000 + k * 500]], id=k)
        for k in range(3)
    ] + [
        line([[502000, 6500000], [505000, 6500000]], id=10),
        line([[503000, 6502000], [503000, 6505000]], id=11),
        line([[[500000, 6500000], [500500, 6500500]],
              [[510000, 6510000], [510500, 6510500]]], "MultiLineString", id=12),
        line([[510000, 6510000], [511000, 6511000]], id=20),
        line([[503400, 6504000], [504000, 6503400]], id=21),
    ]
    _write_geojson(d / "lst_linjer.geojson", lines, "EPSG:3006")
    return d


def _files(d, *names):
    ext = {"nvv_skydd": "geojson", "raa_fornminnen": "json", "lst_linjer": "geojson"}
    return [{"path": str(d / f"{n}.{ext[n]}"), "source_name": n,
             "authority": n.split("_")[0].upper()} for n in names]


def test_parse_and_stage(spark, staged_inputs, tmp_path):
    files = [
        {"path": str(staged_inputs / "nvv_skydd.geojson"),
         "source_name": "nvv_skydd", "authority": "NVV"},
        {"path": str(staged_inputs / "raa_fornminnen.json"),
         "source_name": "raa_fornminnen", "authority": "RAA"},
    ]
    raw = read_feature_files(spark, files)
    assert raw.count() == 21 + 10

    # election drops the 2 minority polygons of source A
    elected = elect_geometry_type(raw)
    assert elected.filter(F.col("source_name") == "nvv_skydd").count() == 19

    # magnitude validation drops the lon=500 point (4326 window)
    validated = validate_magnitude(elected)
    assert validated.filter(F.col("source_name") == "nvv_skydd").count() == 18

    staged = stage_features(raw)
    rows = staged.collect()
    assert all(r.crs == 3006 for r in rows)
    assert len(rows) == 18 + 10

    # reprojected coordinates match a direct kernel call
    sample = staged.filter(
        (F.col("source_name") == "nvv_skydd") & (F.col("props.idx") == "0")
    ).first()
    gt, coords = wkb_loads(bytes(sample.geometry))
    ex, ny = geodetic_to_grid(57.0, 14.0, 3006)
    assert gt == "Point"
    assert abs(coords[0] - float(ex)) < 1e-6
    assert abs(coords[1] - float(ny)) < 1e-6
    # bbox recomputed post-reproject
    assert abs(sample.bbox.xmin - float(ex)) < 1e-6

    # the download step's staged write, partitioned by source
    out = str(tmp_path / "staging")
    pipe = Pipeline(spark, {}, {"file": lambda spark_, src: read_feature_files(
        spark_, [f for f in files if f["source_name"] == src["name"]])})
    back = pipe.extract_and_stage(
        [{"name": f["source_name"], "authority": f["authority"], "type": "file"}
         for f in files], out)
    assert sorted(n for n in os.listdir(out) if not n.startswith((".", "_"))) == [
        "source_name=nvv_skydd", "source_name=raa_fornminnen"]
    assert back.count() == 28
    assert back.filter(F.col("source_name") == "raa_fornminnen").count() == 10


def test_esri_source_untouched_by_reproject(spark, staged_inputs):
    files = [{"path": str(staged_inputs / "raa_fornminnen.json"),
              "source_name": "raa_fornminnen", "authority": "RAA"}]
    staged = stage_features(read_feature_files(spark, files))
    row = staged.orderBy("feature_id").first()
    gt, coords = wkb_loads(bytes(row.geometry))
    assert coords == [500000.0, 6500000.0]  # already 3006: bit-identical


def test_clip_to_aoi(spark, staged_inputs):
    files = [{"path": str(staged_inputs / "raa_fornminnen.json"),
              "source_name": "raa_fornminnen", "authority": "RAA"}]
    staged = stage_features(read_feature_files(spark, files))
    clipped = clip_to_aoi(staged, AOI)
    assert clipped.count() == 4
    rows = clipped.collect()
    for r in rows:
        assert AOI[0] <= r.bbox.xmin and r.bbox.xmax <= AOI[2]


def test_staged_schema_is_the_feature_schema(spark):
    staged = stage_features(local_frame(spark, [], FEATURE_DDL))
    assert staged.schema.simpleString() == STAGED_SCHEMA.simpleString()


def _python_nodes(df):
    """Python UDF and mapInArrow nodes of the plan tree (the parse's
    MapInPandas aside)."""
    tree = plan_of(df).split("\n\n", 1)[0]
    return sorted(n for n in re.findall(r"(\w+) \(\d+\)", tree)
                  if n in ("ArrowEvalPython", "BatchEvalPython", "MapInArrow"))


def test_staged_plan_has_one_python_udf_node(spark, staged_inputs):
    staged = stage_features(
        read_feature_files(spark, _files(staged_inputs, "nvv_skydd", "lst_linjer")))
    # the fused reproject-and-envelope UDF, one call
    assert _python_nodes(staged) == ["ArrowEvalPython"]
    assert "DuplicatedPythonUDF" not in audit("staged", plan_of(staged))["smells"]
    block = next(b for b in plan_of(staged).split("\n\n") if ") ArrowEvalPython" in b)
    assert block.count("_reproject(") == 1


@F.pandas_udf(T.BinaryType())
def _identity_udf(geom: pd.Series) -> pd.Series:
    return geom


def test_clip_plan_evaluates_no_udf_twice(spark, staged_inputs):
    staged = stage_features(
        read_feature_files(spark, _files(staged_inputs, "nvv_skydd", "lst_linjer")))
    clipped = clip_to_aoi(staged, AOI)
    assert "DuplicatedPythonUDF" not in audit("clip", plan_of(clipped))["smells"]
    assert _python_nodes(clipped) == ["ArrowEvalPython", "MapInArrow"]
    # the shape clip_to_aoi used to have — a deterministic UDF column
    # filtered on afterwards — is what the audit flags: the filter is
    # pushed below the projection and every row pays the UDF twice
    old_shape = staged.withColumn("_clip", _identity_udf(F.col("geometry"))).filter(
        F.col("_clip").isNotNull())
    assert "DuplicatedPythonUDF" in audit("old_clip", plan_of(old_shape))["smells"]


def test_clip_bbox_is_envelope_and_inside_rows_keep_bytes(spark, staged_inputs):
    staged = stage_features(
        read_feature_files(spark, _files(staged_inputs, "raa_fornminnen", "lst_linjer")))
    before = {(r.source_name, r.feature_id): r for r in staged.collect()}
    got = {(r.source_name, r.feature_id): r for r in clip_to_aoi(staged, AOI).collect()}
    # 4 points, 3 inside lines, 2 straddling lines, the straddling
    # MultiLineString; the outside line and the corner-miss line drop
    assert sorted(k[1] for k in got if k[0] == "lst_linjer") == [0, 1, 2, 3, 4, 5]
    assert len(got) == 4 + 6
    for key, r in got.items():
        gt, coords = wkb_loads(bytes(r.geometry))
        assert gt == r.geom_type
        assert tuple(r.bbox) == envelope(gt, coords)
        assert AOI[0] <= r.bbox.xmin and r.bbox.xmax <= AOI[2]
        assert AOI[1] <= r.bbox.ymin and r.bbox.ymax <= AOI[3]
        b = before[key].bbox
        if AOI[0] <= b.xmin and b.xmax <= AOI[2] and AOI[1] <= b.ymin and b.ymax <= AOI[3]:
            assert bytes(r.geometry) == bytes(before[key].geometry)
            assert r.bbox == b
    east = got[("lst_linjer", 3)]
    assert wkb_loads(bytes(east.geometry)) == (
        "LineString", [[502000.0, 6500000.0], [503500.0, 6500000.0]])
    multi = got[("lst_linjer", 5)]
    assert wkb_loads(bytes(multi.geometry)) == (
        "MultiLineString", [[[500000.0, 6500000.0], [500500.0, 6500500.0]]])


def _boom(batches):
    for _ in batches:
        raise RuntimeError("fetch failed during the staging write")
    yield from ()


def test_connector_failing_in_write_records_failure_and_unpersists(
        spark, staged_inputs, tmp_path):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    def connector(spark_, src):
        if src["name"] == "broken":
            return spark_.range(2).mapInPandas(_boom, FEATURE_DDL)
        return read_feature_files(spark_, _files(staged_inputs, src["name"]))

    pipe = Pipeline(spark, {}, {"file": connector})
    specs = [{"name": n, "authority": "X", "type": "file"}
             for n in ("broken", "raa_fornminnen")]
    staged = pipe.extract_and_stage(specs, str(tmp_path / "staging"))
    rows = {r[0]: r for r in pipe.metrics_rows}
    assert rows["broken"][5] is False and rows["broken"][8] == 0 and rows["broken"][6]
    assert rows["raa_fornminnen"][5] is True and rows["raa_fornminnen"][8] == 10
    assert staged.count() == 10
    assert jsc.getPersistentRDDs().size() == before


def test_source_with_no_valid_rows_counts_zero(spark, tmp_path):
    d = tmp_path / "dl"
    d.mkdir()
    _write_geojson(d / "bad.geojson", [_pt(500.0, 57.0 + i) for i in range(5)])

    def connector(spark_, src):
        return read_feature_files(spark_, [{"path": str(d / "bad.geojson"),
                                            "source_name": src["name"],
                                            "authority": "X"}])

    pipe = Pipeline(spark, {}, {"file": connector})
    staged = pipe.extract_and_stage(
        [{"name": "bad", "authority": "X", "type": "file"}], str(tmp_path / "staging"))
    (row,) = pipe.metrics_rows
    assert row[5] is True and row[8] == 0
    assert staged.count() == 0


def test_truncate_and_load_with_manifest(spark, staged_inputs, tmp_path):
    # the process step clips nvv_skydd to nothing, so the manifest holds
    # raa_fornminnen alone: only it is loaded, and a second load of the
    # same workspace overwrites its target instead of appending
    cfg = {
        "sources": [
            {"name": n, "authority": n.split("_")[0].upper(), "type": "file",
             "enabled": True} for n in ("nvv_skydd", "raa_fornminnen")
        ],
        "geoprocessing": {"aoi_bbox": list(AOI)},
    }
    pipe = Pipeline(spark, cfg, {"file": lambda spark_, src: read_feature_files(
        spark_, _files(staged_inputs, src["name"]))})
    ws = str(tmp_path / "ws")
    out = pipe.run(ws)
    manifest = spark.read.parquet(out["manifest"]).collect()
    assert [r.source_name for r in manifest] == ["raa_fornminnen"]
    target = f"{ws}/sde/underlag_raa/raa_fornminnen"
    assert out["loaded"] == {"raa_fornminnen": target}
    assert not os.path.exists(f"{ws}/sde/underlag_nvv")
    assert spark.read.parquet(target).count() == 4
    # idempotent overwrite (truncate semantics)
    again = pipe.run(ws, steps=("load",))
    assert again["loaded"] == {"raa_fornminnen": target}
    assert spark.read.parquet(target).count() == 4


def test_align_to_template_no_test_semantics(spark):
    src = spark.createDataFrame([(1, "a", 2.5)], "id long, extra string, v double")
    tmpl = spark.createDataFrame([], "id int, v double, missing string")
    aligned = align_to_template(src, tmpl)
    assert [f.name for f in aligned.schema.fields] == ["id", "v", "missing"]
    row = aligned.first()
    assert row.id == 1 and row.v == 2.5 and row.missing is None


def test_schema_evolution_merge_and_align(spark, tmp_path):
    """A staging dir whose later runs add a column: mergeSchema surfaces
    the union schema (older files null-fill), and align_to_template
    projects any run's frame back onto the original target contract —
    the NO_TEST load path under schema drift."""
    staged = str(tmp_path / "staged")
    v1 = spark.range(5).select(F.col("id"), F.lit("a").alias("name"))
    v1.write.parquet(staged + "/run=1")
    v2 = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("name"), F.lit(9.5).alias("score")
    )
    v2.write.parquet(staged + "/run=2")

    merged = spark.read.option("mergeSchema", "true").parquet(staged)
    assert set(merged.columns) == {"id", "name", "score", "run"}
    assert merged.count() == 8
    # old rows null-fill the new column
    assert merged.filter("run = 1 AND score IS NULL").count() == 5

    # loading back into the v1 contract drops the drifted column
    aligned = align_to_template(merged, v1)
    assert aligned.columns == v1.columns
    assert aligned.count() == 8

    # widening the contract null-fills missing columns, matched by NAME
    template_v3 = v2.limit(0).withColumn("extra", F.lit(None).cast("string"))
    widened = align_to_template(merged, template_v3)
    assert widened.columns == ["id", "name", "score", "extra"]
    assert widened.filter("extra IS NOT NULL").count() == 0
