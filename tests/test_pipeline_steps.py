"""The geo pipeline's steps: the staging vote and validation against a
short Python reference, a source that stops staging rows, and the Spark
jobs and plan shape of the process and load steps."""

from __future__ import annotations

import json
import os
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from op_etl_spark.plans.pipeline import Pipeline
from op_etl_spark.plans.staging import STAGED_SCHEMA, stage_features
from op_etl_spark.session import local_frame
from op_etl_spark.sources.geojson import read_feature_files
from op_etl_spark.sources.schema import FEATURE_DDL

# valid-coordinate windows per SR (reference sr_utils.py:39-60)
WINDOWS = {
    3006: (200000.0, 6100000.0, 900000.0, 7700000.0),
    3010: (-200000.0, 6100000.0, 1000000.0, 7700000.0),
    4326: (-180.0, -90.0, 180.0, 90.0),
}


def _pt(x, y):
    """The bbox of a point."""
    return (x, y, x, y)


IN_3006 = _pt(500000.0, 6500000.0)
IN_3010_ONLY = _pt(-100000.0, 6500000.0)
IN_4326 = _pt(15.0, 60.0)

# (source_name, feature_id, geom_type, crs, bbox)
CASES = [
    # a count tie: the lowest base type (LineString) wins
    ("tie", 1, "Point", 3006, IN_3006),
    ("tie", 2, "Point", 3006, IN_3006),
    ("tie", 3, "LineString", 3006, IN_3006),
    ("tie", 4, "LineString", 3006, IN_3006),
    # Multi* count toward their base type: 3 polygons beat 2 points
    ("multi", 1, "Polygon", 3006, IN_3006),
    ("multi", 2, "MultiPolygon", 3006, IN_3006),
    ("multi", 3, "MultiPolygon", 3006, IN_3006),
    ("multi", 4, "Point", 3006, IN_3006),
    ("multi", 5, "Point", 3006, IN_3006),
    # a null type is a candidate that sorts first: tied, it wins and
    # matches no row; outvoted, its rows drop
    ("null_tie", 1, None, 3006, IN_3006),
    ("null_tie", 2, "Point", 3006, IN_3006),
    ("null_minor", 1, None, 3006, IN_3006),
    ("null_minor", 2, "Point", 3006, IN_3006),
    ("null_minor", 3, "Point", 3006, IN_3006),
    # validation: a null crs takes the default 3006; one row outside its
    # window per SR; an unknown SR passes; both bbox corners must be inside
    ("sr", 1, "Point", None, IN_3006),
    ("sr", 2, "Point", None, IN_4326),
    ("sr", 3, "Point", 3006, IN_3010_ONLY),
    ("sr", 4, "Point", 3010, IN_3010_ONLY),
    ("sr", 5, "Point", 3010, _pt(-300000.0, 6500000.0)),
    ("sr", 6, "Point", 4326, IN_4326),
    ("sr", 7, "Point", 4326, _pt(200.0, 60.0)),
    ("sr", 8, "Point", 9999, _pt(1e9, 1e9)),
    ("sr", 9, "Point", 3006, (500000.0, 6500000.0, 950000.0, 6500000.0)),
    # a row without a source never stages
    (None, 1, "Point", 3006, IN_3006),
]


def _base(gt):
    return gt[len("Multi"):] if gt and gt.startswith("Multi") else gt


def _reference(cases, default_epsg=3006):
    votes = defaultdict(Counter)
    for src, _, gt, _, _ in cases:
        if src is not None:
            votes[src][_base(gt)] += 1
    dominant = {
        s: min(c, key=lambda t: (-c[t], t is not None, t or "")) for s, c in votes.items()
    }
    kept = set()
    for src, fid, gt, crs, (x0, y0, x1, y1) in cases:
        if src is None or gt is None or _base(gt) != dominant[src]:
            continue
        w = WINDOWS.get(default_epsg if crs is None else crs)
        if w and not all(w[0] <= x <= w[2] and w[1] <= y <= w[3]
                         for x, y in ((x0, y0), (x1, y1))):
            continue
        kept.add((src, fid))
    return kept


def test_stage_features_matches_python_reference(spark):
    # null geometries: the reproject UDF sees every row but decodes none,
    # so the test pins the vote and the validation alone
    rows = [(fid, src, "X", gt, None, bbox, crs, {}) for src, fid, gt, crs, bbox in CASES]
    staged = stage_features(local_frame(spark, rows, FEATURE_DDL)).collect()
    assert {(r.source_name, r.feature_id) for r in staged} == _reference(CASES)
    bbox = {(src, fid): b for src, fid, _, _, b in CASES}
    for r in staged:
        assert r.crs == 3006
        assert tuple(r.bbox) == bbox[(r.source_name, r.feature_id)]


def _write_points(path, lon, n=5):
    feats = [{"type": "Feature",
              "geometry": {"type": "Point", "coordinates": [lon, 57.0 + i * 0.1]},
              "properties": {"i": i}} for i in range(n)]
    with open(path, "w") as f:
        json.dump({"type": "FeatureCollection", "features": feats}, f)


def _file_pipeline(spark, paths: dict, aoi=None):
    """A pipeline over one GeoJSON file per source; `paths` maps a source
    name to (authority, path)."""
    cfg = {"sources": [{"name": n, "authority": a, "type": "file", "enabled": True}
                       for n, (a, _) in paths.items()]}
    if aoi:
        cfg["geoprocessing"] = {"aoi_bbox": list(aoi)}

    def connector(spark_, src):
        return read_feature_files(spark_, [{"path": str(paths[src["name"]][1]),
                                            "source_name": src["name"],
                                            "authority": src["authority"]}])

    return Pipeline(spark, cfg, {"file": connector})


def test_source_staging_no_rows_removes_its_stale_partition(spark, tmp_path):
    # '=' is escaped in the partition directory name (as %3D)
    name = "lst=punkter"
    path = tmp_path / "points.geojson"
    pipe = _file_pipeline(spark, {name: ("LST", path)})
    ws = str(tmp_path / "ws")
    _write_points(path, 15.0)
    assert set(pipe.run(ws)["loaded"]) == {name}
    assert os.path.isdir(f"{ws}/staging/source_name=lst%3Dpunkter")

    # every point moves out of the WGS84 window: the source stages nothing
    _write_points(path, 500.0)
    out = pipe.run(ws)
    (row,) = pipe.metrics_rows
    assert row[5] is True and row[8] == 0
    staged = spark.read.schema(STAGED_SCHEMA).parquet(f"{ws}/staging")
    assert staged.filter(F.col("source_name") == name).count() == 0
    assert out["loaded"] == {}
    assert spark.read.parquet(out["manifest"]).count() == 0


def _activity(spark):
    """(job ids, {SQL execution id: physical plan}) run so far, once the
    listener bus has delivered every event."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(spark._jvm.java.util.ArrayList())
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return (
        {jobs.apply(i).jobId() for i in range(jobs.size())},
        {execs.apply(i).executionId(): execs.apply(i).physicalPlanDescription()
         for i in range(execs.size())},
    )


def _since(spark, before):
    jobs, plans = _activity(spark)
    return len(jobs - before[0]), [p for e, p in plans.items() if e not in before[1]]


def test_process_and_load_jobs_and_plan_shape(spark, tmp_path):
    # two sources inside the AOI, one that the clip reduces to nothing
    lon = {"a": 15.0, "b": 15.0005, "far": 14.0}
    paths = {}
    for n, x in lon.items():
        paths[n] = (n.upper(), tmp_path / f"{n}.geojson")
        _write_points(paths[n][1], x)
    aoi = (490000.0, 6300000.0, 510000.0, 6400000.0)
    pipe = _file_pipeline(spark, paths, aoi)
    ws = str(tmp_path / "ws")
    pipe.run(ws, steps=("download",))

    before = _activity(spark)
    out = pipe.run(ws, steps=("process",))
    jobs, _ = _since(spark, before)
    assert jobs <= 2
    manifest = sorted(r.source_name for r in spark.read.parquet(out["manifest"]).collect())
    assert manifest == ["a", "b"]
    assert len([f for f in os.listdir(out["manifest"]) if f.endswith(".parquet")]) == 1

    before = _activity(spark)
    out = pipe.run(ws, steps=("load",))
    jobs, plans = _since(spark, before)
    assert set(out["loaded"]) == {"a", "b"}
    assert jobs == 1 + 2
    assert plans and not [p for p in plans if "Join" in p or "BroadcastExchange" in p]
    assert not os.path.exists(f"{ws}/sde/underlag_far")
    for n in ("a", "b"):
        assert out["loaded"][n] == f"{ws}/sde/underlag_{n}/{n}"
        target = spark.read.parquet(out["loaded"][n])
        assert target.columns == STAGED_SCHEMA.names
        assert target.count() == 5


def test_empty_selection_writes_an_empty_manifest(spark, tmp_path):
    # no source selected: the observed processed write still completes,
    # the manifest is empty and nothing is loaded
    pipe = _file_pipeline(spark, {"a": ("A", tmp_path / "unused.geojson")},
                          (0.0, 0.0, 1.0, 1.0))
    out = pipe.run(str(tmp_path / "ws"), authority="NONE")
    assert out["loaded"] == {}
    assert spark.read.parquet(out["manifest"]).count() == 0
