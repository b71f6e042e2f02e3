"""F9 CRS parsing, P9 magnitude validation, P3/F14 bbox math."""

from __future__ import annotations

from pyspark.sql import functions as F

from op_etl_spark.functions.bbox import (
    bbox_struct,
    envelope_intersects,
    envelope_within_tolerance,
)
from op_etl_spark.functions.crs import (
    crs_to_epsg_expr,
    crs_to_epsg_py,
    magnitude_valid_expr,
)

CRS_CASES = [
    ("EPSG:3006", 3006),
    ("epsg:4326", 4326),
    ("3010", 3010),
    ("CRS84", 4326),
    ("urn:ogc:def:crs:OGC:1.3:CRS84", 4326),
    ("http://www.opengis.net/def/crs/EPSG/0/3006", 3006),
    ("urn:ogc:def:crs:EPSG::3010", 3010),
    ("bogus", None),
    (None, None),
]


def test_crs_parse_python():
    for s, want in CRS_CASES:
        assert crs_to_epsg_py(s) == want, s


def test_crs_parse_expr(spark):
    df = spark.createDataFrame([(s,) for s, _ in CRS_CASES], "s string")
    got = [r[0] for r in df.select(crs_to_epsg_expr(F.col("s"))).collect()]
    assert got == [w for _, w in CRS_CASES]


def test_magnitude_validation(spark):
    rows = [
        (500000.0, 6500000.0, 3006, True),
        (100.0, 6500000.0, 3006, False),      # X below SWEREF99 TM window
        (500000.0, 100.0, 3006, False),
        (15.0, 60.0, 4326, True),
        (200.0, 60.0, 4326, False),           # lon out of range
        (500000.0, 6500000.0, 9999, True),    # unknown SR passes
    ]
    df = spark.createDataFrame(
        [(x, y, e) for x, y, e, _ in rows], "x double, y double, epsg int"
    )
    got = [
        r[0]
        for r in df.select(
            magnitude_valid_expr("x", "y", "epsg")
        ).collect()
    ]
    assert got == [w for *_, w in rows]


def test_envelope_predicates(spark):
    df = spark.range(1)
    a = bbox_struct(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
    b_overlap = bbox_struct(F.lit(5.0), F.lit(5.0), F.lit(15.0), F.lit(15.0))
    b_disjoint = bbox_struct(F.lit(20.0), F.lit(20.0), F.lit(30.0), F.lit(30.0))
    b_near = bbox_struct(F.lit(0.5), F.lit(0.5), F.lit(10.5), F.lit(10.5))
    row = df.select(
        envelope_intersects(a, b_overlap).alias("o"),
        envelope_intersects(a, b_disjoint).alias("d"),
        envelope_within_tolerance(b_near, a, 0.1).alias("tol_ok"),
        envelope_within_tolerance(b_overlap, a, 0.1).alias("tol_bad"),
    ).first()
    assert row.o and not row.d
    assert row.tol_ok and not row.tol_bad
