"""Geospatial-ETL operator surface, verified against DuckDB.

These queries run the engine's real column-expression operators
(op_etl_spark.functions: slug/safe-name F1-F4, CRS parse F9, magnitude
validation P9, bbox predicate P3, envelope tolerance F14, geometry-type
election P5) over the driver-provided tables. Where an operator needs
coordinates, they're synthesized deterministically from integer keys
(identical arithmetic in the oracle) — the operator logic under test is the
engine's, the inputs are just reproducible.
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 - resolves pandas_udf type hints (PEP 563)
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from op_etl_spark.session import read_events

from ._util import read_table

from op_etl_spark.functions.bbox import bbox_struct, envelope_within_tolerance, point_in_bbox
from op_etl_spark.functions.crs import crs_to_epsg_expr, magnitude_valid_expr
from op_etl_spark.functions.naming import safe_name_expr, slug_expr

# AOI bbox from the reference config (config/config.yaml:135).
AOI = (585826.0, 6550189.0, 648593.0, 6611661.0)


def _t(spark, sf_dir, name):
    return read_table(spark, sf_dir, name)


# --- F1/F2: slug + safe-name over part and customer names ---

def slug_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        slug_expr(F.col("p_name")).alias("slug"),
        safe_name_expr(F.col("p_brand")).alias("safe_brand"),
    )


ORACLE_SLUG = """
SELECT p_partkey,
       substr(trim(regexp_replace(regexp_replace(regexp_replace(
                translate(regexp_replace(lower(p_name), 'ß', 'ss', 'g'),
                          'åäöéèüæøñç', 'aaoeeuaonc'),
                '\\s+', '_', 'g'),
                '[^a-z0-9_-]', '', 'g'),
                '_+', '_', 'g'), '_'), 1, 63) AS slug,
       substr(trim(regexp_replace(regexp_replace(regexp_replace(
                translate(regexp_replace(lower(p_brand), 'ß', 'ss', 'g'),
                          'åäöéèüæøñç', 'aaoeeuaonc'),
                '\\s+', '_', 'g'),
                '[^a-z0-9_-]', '', 'g'),
                '_+', '_', 'g'), '_'), 1, 100) AS safe_brand
FROM part
"""


# --- F9: CRS identifier parsing ---

_CRS_CASES = [
    "EPSG:3006",
    "3010",
    "CRS84",
    "http://www.opengis.net/def/crs/EPSG/0/3006",
    "urn:ogc:def:crs:EPSG::4326",
    "bogus",
]


def crs_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events(spark, sf_dir)
    sel = F.col("event_id") % len(_CRS_CASES)
    crs_str = F.when(sel == 0, _CRS_CASES[0])
    for i, c in enumerate(_CRS_CASES[1:], start=1):
        crs_str = crs_str.when(sel == i, c)
    crs_str = crs_str.otherwise(F.lit(None))
    return ev.select(
        "event_id",
        crs_str.alias("crs_str"),
        crs_to_epsg_expr(crs_str).alias("epsg"),
    )


ORACLE_CRS = """
WITH src AS (
  SELECT event_id,
         CASE event_id % 6
           WHEN 0 THEN 'EPSG:3006' WHEN 1 THEN '3010' WHEN 2 THEN 'CRS84'
           WHEN 3 THEN 'http://www.opengis.net/def/crs/EPSG/0/3006'
           WHEN 4 THEN 'urn:ogc:def:crs:EPSG::4326' ELSE 'bogus' END AS crs_str
  FROM events)
SELECT event_id, crs_str,
       CASE
         WHEN upper(crs_str) IN ('CRS84', 'OGC:CRS84',
              'HTTP://WWW.OPENGIS.NET/DEF/CRS/OGC/1.3/CRS84',
              'URN:OGC:DEF:CRS:OGC:1.3:CRS84') THEN 4326
         WHEN regexp_matches(upper(crs_str), '^[0-9]+$') THEN CAST(crs_str AS INT)
         WHEN regexp_matches(upper(crs_str), '^EPSG:[0-9]+$')
              THEN CAST(regexp_extract(upper(crs_str), 'EPSG:([0-9]+)', 1) AS INT)
         WHEN regexp_extract(upper(crs_str), 'EPSG[/:]+(?:0[/:])?([0-9]+)$', 1) != ''
              THEN CAST(regexp_extract(upper(crs_str), 'EPSG[/:]+(?:0[/:])?([0-9]+)$', 1) AS INT)
         ELSE NULL END AS epsg
FROM src
"""


# --- P3 + P9: bbox predicate and magnitude validation on synthesized points ---

def _synth_points(ev: DataFrame) -> DataFrame:
    """Deterministic SWEREF99-TM-ish coordinates from integer keys; ~both
    in/out of AOI and in/out of the valid magnitude window."""
    x = (F.lit(150000.0) + (F.col("event_id") * 7919 % 800000).cast("double")).alias("x")
    y = (F.lit(6050000.0) + (F.col("user_id") * 104729 % 1700000).cast("double")).alias("y")
    return ev.select("event_id", x, y)


def bbox_filter_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _synth_points(read_events(spark, sf_dir))
    aoi = bbox_struct(F.lit(AOI[0]), F.lit(AOI[1]), F.lit(AOI[2]), F.lit(AOI[3]))
    return pts.filter(point_in_bbox(F.col("x"), F.col("y"), aoi)).select("event_id", "x", "y")


ORACLE_BBOX = f"""
WITH pts AS (
  SELECT event_id,
         150000.0::DOUBLE + (event_id * 7919 % 800000) AS x,
         6050000.0::DOUBLE + (user_id * 104729 % 1700000) AS y
  FROM events)
SELECT event_id, x, y FROM pts
WHERE x >= {AOI[0]} AND x <= {AOI[2]} AND y >= {AOI[1]} AND y <= {AOI[3]}
"""


def magnitude_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _synth_points(read_events(spark, sf_dir)).withColumn(
        "epsg", F.expr("CASE WHEN event_id % 2 = 0 THEN 3006 ELSE 3010 END")
    )
    return pts.select(
        "event_id", "epsg", magnitude_valid_expr("x", "y", "epsg").alias("coords_valid")
    )


ORACLE_MAGNITUDE = """
WITH pts AS (
  SELECT event_id,
         150000.0 + (event_id * 7919 % 800000) AS x,
         6050000.0 + (user_id * 104729 % 1700000) AS y,
         CASE WHEN event_id % 2 = 0 THEN 3006 ELSE 3010 END AS epsg
  FROM events)
SELECT event_id, epsg,
       CASE WHEN epsg = 3006
              THEN x >= 200000 AND x <= 900000 AND y >= 6100000 AND y <= 7700000
            ELSE x >= -200000 AND x <= 1000000 AND y >= 6100000 AND y <= 7700000
       END AS coords_valid
FROM pts
"""


# --- P5: geometry-type election (dominant type per source, drop minority) ---

_GEOM_TYPES = ["Point", "LineString", "Polygon", "MultiPolygon"]


def geometry_type_election(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Majority-vote dominant geometry type per 'file' (stage_files.py:32-55):
    synthetic geom_type from lineitem keys, one 'file' per l_suppkey; output
    the elected type and kept/dropped counts."""
    li = _t(spark, sf_dir, "lineitem")
    gt = F.when(F.col("l_linenumber") <= 4, F.lit("Point")).otherwise(
        F.when(F.col("l_orderkey") % 3 == 0, "LineString").otherwise("Polygon")
    )
    typed = li.select(F.col("l_suppkey").alias("file_id"), gt.alias("geom_type"))
    counts = typed.groupBy("file_id", "geom_type").agg(F.count(F.lit(1)).alias("cnt"))
    # Election via struct-max over the per-type counts — ONE lineitem
    # scan (totals fold out of the counts; previously a second scan + a
    # join), and the tie rule (desc count, asc type name) is encoded as
    # max(struct(cnt, -alphabetical_code)): both aggregates are full
    # map-side-combine reductions, no window, no join.
    code = (
        F.when(F.col("geom_type") == "LineString", 0)
        .when(F.col("geom_type") == "Point", 1)
        .otherwise(2)
    )
    best = counts.groupBy("file_id").agg(
        F.max(F.struct(F.col("cnt").alias("cnt"), (-code).alias("negcode"))).alias("b"),
        F.sum("cnt").alias("n_total"),
    )
    dominant_type = (
        F.when(F.col("b.negcode") == 0, "LineString")
        .when(F.col("b.negcode") == -1, "Point")
        .otherwise("Polygon")
    )
    return best.select(
        "file_id",
        dominant_type.alias("dominant_type"),
        F.col("b.cnt").alias("n_kept"),
        (F.col("n_total") - F.col("b.cnt")).alias("n_dropped"),
    )


ORACLE_ELECTION = """
WITH typed AS (
  SELECT l_suppkey AS file_id,
         CASE WHEN l_linenumber <= 4 THEN 'Point'
              WHEN l_orderkey % 3 = 0 THEN 'LineString'
              ELSE 'Polygon' END AS geom_type
  FROM lineitem),
counts AS (
  SELECT file_id, geom_type, count(*) AS cnt FROM typed GROUP BY 1, 2),
dominant AS (
  SELECT file_id, geom_type AS dominant_type, cnt AS n_kept
  FROM (SELECT *, row_number() OVER (PARTITION BY file_id
                                     ORDER BY cnt DESC, geom_type) AS rn
        FROM counts) WHERE rn = 1),
totals AS (SELECT file_id, count(*) AS n_total FROM typed GROUP BY 1)
SELECT file_id, dominant_type, n_kept, n_total - n_kept AS n_dropped
FROM dominant JOIN totals USING (file_id)
"""


# --- F14: envelope-vs-request tolerance check ---

def envelope_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    req = bbox_struct(F.lit(AOI[0]), F.lit(AOI[1]), F.lit(AOI[2]), F.lit(AOI[3]))
    jitter = (F.col("o_orderkey") % 100).cast("double") * 100.0
    resp = bbox_struct(
        F.lit(AOI[0]) + jitter, F.lit(AOI[1]) - jitter, F.lit(AOI[2]) + jitter, F.lit(AOI[3]) - jitter
    )
    return orders.select(
        "o_orderkey",
        envelope_within_tolerance(resp, req, 0.1).alias("within_tolerance"),
    )


ORACLE_TOLERANCE = f"""
WITH j AS (
  SELECT o_orderkey, (o_orderkey % 100) * 100.0 AS jitter
  FROM orders WHERE o_orderkey % 10 = 0)
SELECT o_orderkey,
       abs(jitter) <= ({AOI[2]} - {AOI[0]}) * 0.1
   AND abs(-jitter) <= ({AOI[2]} - {AOI[0]}) * 0.1
   AND abs(-jitter) <= ({AOI[3]} - {AOI[1]}) * 0.1
   AND abs(jitter) <= ({AOI[3]} - {AOI[1]}) * 0.1 AS within_tolerance
FROM j
"""


# --- T1: Krüger-series reprojection 4326 -> 3006, oracle replays the math ---

def reproject_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transverse-Mercator forward projection (the engine's replacement for
    arcpy Project, T1) on synthetic Swedish lat/lons, via the vectorized
    numpy kernel inside an Arrow pandas UDF. The DuckDB oracle replays the
    identical Krüger series in SQL; both engines agree far below the mm
    rounding (fround 3)."""
    from pyspark.sql import types as T

    from op_etl_spark.geometry.tm import geodetic_to_grid
    from op_etl_spark.session import ensure_shipped

    ensure_shipped(spark)
    ev = read_events(spark, sf_dir).filter(F.col("event_id") % 20 == 0)
    pts = ev.select(
        "event_id",
        (F.lit(55.0) + (F.col("event_id") * 7919 % 13000).cast("double") / 1000.0).alias("lat"),
        (F.lit(11.0) + (F.col("user_id") * 104729 % 13000).cast("double") / 1000.0).alias("lon"),
    )

    @F.pandas_udf(
        T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
    )
    def project(lat: pd.Series, lon: pd.Series) -> pd.DataFrame:
        x, y = geodetic_to_grid(lat.to_numpy(), lon.to_numpy(), 3006)
        return pd.DataFrame({"x": x, "y": y})

    from ._util import fround

    out = pts.withColumn("g", project("lat", "lon"))
    return out.select(
        "event_id",
        fround("g.x", 3).alias("x_3006"),
        fround("g.y", 3).alias("y_3006"),
    )


def _kruger_oracle_sql() -> str:
    from op_etl_spark.geometry import tm

    consts = {
        "CA": tm._CA, "CB": tm._CB, "CC": tm._CC, "CD": tm._CD,
        "B1": tm._BETA1, "B2": tm._BETA2, "B3": tm._BETA3, "B4": tm._BETA4,
        # k0 * a_hat precomputed in Python — the identical IEEE product the
        # numpy kernel folds first (left-assoc k0 * _a_hat * expr)
        "K0AH": 0.9996 * tm._a_hat,
    }
    c = {k: repr(v) for k, v in consts.items()}
    # hyperbolics inlined (DuckDB lacks sinh/cosh/atanh):
    #   atanh(z) = ln((1+z)/(1-z))/2 ; cosh/sinh via exp
    return f"""
WITH pts AS (
  SELECT event_id,
         radians(55.0 + (event_id * 7919 % 13000) / 1000.0) AS phi,
         radians(11.0 + (user_id * 104729 % 13000) / 1000.0) AS lam
  FROM events WHERE event_id % 20 = 0),
conf AS (
  SELECT event_id, lam,
         phi - sin(phi) * cos(phi) *
           ({c['CA']} + {c['CB']} * pow(sin(phi), 2) + {c['CC']} * pow(sin(phi), 4)
            + {c['CD']} * pow(sin(phi), 6)) AS phi_s
  FROM pts),
prim AS (
  SELECT event_id,
         atan2(tan(phi_s), cos(lam - radians(15.0))) AS xi,
         ln((1 + cos(phi_s) * sin(lam - radians(15.0)))
            / (1 - cos(phi_s) * sin(lam - radians(15.0)))) / 2 AS eta
  FROM conf),
grid AS (
  SELECT event_id,
         {c['K0AH']}::DOUBLE * (eta
           + {c['B1']} * cos(2 * xi) * (exp(2 * eta) - exp(-2 * eta)) / 2
           + {c['B2']} * cos(4 * xi) * (exp(4 * eta) - exp(-4 * eta)) / 2
           + {c['B3']} * cos(6 * xi) * (exp(6 * eta) - exp(-6 * eta)) / 2
           + {c['B4']} * cos(8 * xi) * (exp(8 * eta) - exp(-8 * eta)) / 2) + 500000.0 AS x,
         {c['K0AH']}::DOUBLE * (xi
           + {c['B1']} * sin(2 * xi) * (exp(2 * eta) + exp(-2 * eta)) / 2
           + {c['B2']} * sin(4 * xi) * (exp(4 * eta) + exp(-4 * eta)) / 2
           + {c['B3']} * sin(6 * xi) * (exp(6 * eta) + exp(-6 * eta)) / 2
           + {c['B4']} * sin(8 * xi) * (exp(8 * eta) + exp(-8 * eta)) / 2) + 0.0 AS y
  FROM prim)
SELECT event_id,
       floor(x * 1000 + 0.5) / 1000.0 AS x_3006,
       floor(y * 1000 + 0.5) / 1000.0 AS y_3006
FROM grid
"""


ORACLE_REPROJECT = _kruger_oracle_sql()


# --- T3 (point case): clip against a convex AOI polygon (half-plane tests) ---

# convex quadrilateral AOI in SWEREF99 TM (counter-clockwise)
AOI_QUAD = [
    (585826.0, 6550189.0),
    (648593.0, 6555000.0),
    (652000.0, 6611661.0),
    (590000.0, 6605000.0),
]


def clip_points_convex_aoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-convex-polygon as pure column math: a point is inside iff
    every edge's cross product has the same sign (CCW ring -> all >= 0).
    JVM-side expression — the exact-geometry stage that runs AFTER the
    envelope prefilter, broadcast-AOI pattern (reference T3,
    etl/process.py:107-123)."""
    pts = _synth_points(read_events(spark, sf_dir))
    inside = None
    n = len(AOI_QUAD)
    for i in range(n):
        (x1, y1), (x2, y2) = AOI_QUAD[i], AOI_QUAD[(i + 1) % n]
        cross = (F.lit(x2 - x1)) * (F.col("y") - F.lit(y1)) - (
            F.lit(y2 - y1)
        ) * (F.col("x") - F.lit(x1))
        cond = cross >= 0
        inside = cond if inside is None else (inside & cond)
    return pts.filter(inside).select("event_id", "x", "y")


def _clip_oracle_sql() -> str:
    conds = []
    n = len(AOI_QUAD)
    for i in range(n):
        (x1, y1), (x2, y2) = AOI_QUAD[i], AOI_QUAD[(i + 1) % n]
        conds.append(f"({x2 - x1}) * (y - {y1}) - ({y2 - y1}) * (x - {x1}) >= 0")
    cond = "\n   AND ".join(conds)
    return f"""
WITH pts AS (
  SELECT event_id,
         150000.0::DOUBLE + (event_id * 7919 % 800000) AS x,
         6050000.0::DOUBLE + (user_id * 104729 % 1700000) AS y
  FROM events)
SELECT event_id, x, y FROM pts
WHERE {cond}
"""


ORACLE_CLIP_POINTS = _clip_oracle_sql()


# --- spatial near-join: all point pairs within distance D, grid-bucketed ---

GRID_DIST = 1000.0    # metres; also the grid cell size
GRID_CELL_CAP = 64    # points per cell before the cell is excluded

# Constant-density under corpus fans: the scale probes and the sf1
# rehearsal grow events by unioning copies with event_id shifted by
# multiples of FAN_COPY_SHIFT (tools/scale_probe.KEY_SHIFT). Because
# _synth_points derives x from event_id MOD 800000, every copy would
# land in the SAME coordinate area — point density (and qualifying
# pairs per point) would grow with the fan by pure geometry, measuring
# the fixture instead of the operator. grid_distance_pairs therefore
# translates each copy into its own disjoint x-tile. At every driver
# scale (event_id < FAN_COPY_SHIFT) the tile term is exactly 0.0, so
# results and hashes are unchanged; under a fan, density — and
# pairs-per-point — is scale-invariant. Integer-exact: event_id DIV
# FAN_COPY_SHIFT is a small integer, the product stays far below 2^53,
# and adding it to the integer-valued x is exact in doubles, so the
# DuckDB twin computes the bit-identical coordinate.
FAN_COPY_SHIFT = 10_000_000
FAN_TILE_STRIDE = 810_000.0  # > the 800k x-span: tiles never touch


def _tiled_synth_points(ev: DataFrame) -> DataFrame:
    tile = F.expr(f"CAST(event_id DIV {FAN_COPY_SHIFT} AS DOUBLE)")
    return _synth_points(ev).withColumn(
        "x", F.col("x") + tile * F.lit(FAN_TILE_STRIDE)
    )


def grid_pairs(pts: DataFrame, dist: float, cap: int) -> DataFrame:
    """All pairs of `pts` (event_id, x, y) within `dist`, grid-bucketed:
    with cell size == dist, any qualifying pair spans at most one cell
    boundary, so replicating each point into its 3x3 cell neighborhood
    and equi-joining replicas against home cells finds every pair
    exactly once — never a cross product.

    Bounded-pair contract (same shape as the LSH dedup family): points
    whose HOME cell holds more than `cap` points are excluded from both
    sides (a partitioned-window count, one shuffle), so a pathological
    hot cell — a city's worth of points at one location — costs at most
    cap^2 pairs instead of blowing up the join. The exclusion is by
    whole cell, deterministic, and mirrored in the oracle. dist2 is
    exact integer-valued double arithmetic — bit-identical to the
    brute-force O(n^2) oracle twin."""
    from pyspark.sql.window import Window

    cx = F.floor(F.col("x") / dist)
    cy = F.floor(F.col("y") / dist)
    wcell = Window.partitionBy("cx", "cy")
    ok = (
        pts.select("event_id", "x", "y", cx.alias("cx"), cy.alias("cy"))
        .withColumn("__n", F.count(F.lit(1)).over(wcell))
        .filter(F.col("__n") <= cap)
        .drop("__n")
    )
    home = ok.select(
        F.col("event_id").alias("id1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
        "cx",
        "cy",
    )
    reps = ok.select(
        F.col("event_id").alias("id2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cx") + i).alias("cx"), (F.col("cy") + j).alias("cy")
                    )
                    for i in (-1, 0, 1)
                    for j in (-1, 0, 1)
                ]
            )
        ).alias("c"),
    ).select("id2", "x2", "y2", "c.cx", "c.cy")
    dist2 = (F.col("x2") - F.col("x1")) * (F.col("x2") - F.col("x1")) + (
        F.col("y2") - F.col("y1")
    ) * (F.col("y2") - F.col("y1"))
    return (
        home.join(reps, ["cx", "cy"])
        .filter(F.col("id1") < F.col("id2"))
        .withColumn("dist2", dist2)
        .filter(F.col("dist2") <= dist * dist)
        .select("id1", "id2", "dist2")
    )


def grid_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every synthesized event-point pair within GRID_DIST metres — see
    `grid_pairs` for the plan shape and the per-cell density cap (the
    cap never bites on this testdata — max 3 points/cell — which the
    oracle proves by matching the capped implementation against the
    same-capped brute force; the hot-cell behavior itself is unit-tested
    with synthetic dense points in test_geometry). Fan copies tile into
    disjoint coordinate areas (see FAN_COPY_SHIFT above) so the query is
    constant-density at the sf1 rehearsal and in the geo scale probe,
    with hashes untouched at every driver scale."""
    return grid_pairs(
        _tiled_synth_points(read_events(spark, sf_dir)), GRID_DIST, GRID_CELL_CAP
    )


ORACLE_GRID_PAIRS = f"""
WITH pts AS (
  SELECT event_id,
         150000.0::DOUBLE + (event_id * 7919 % 800000)
           + CAST(event_id // {FAN_COPY_SHIFT} AS DOUBLE) * {FAN_TILE_STRIDE} AS x,
         6050000.0::DOUBLE + (user_id * 104729 % 1700000) AS y
  FROM events),
cells AS (
  SELECT floor(x / {GRID_DIST}) AS cx, floor(y / {GRID_DIST}) AS cy, count(*) AS c
  FROM pts GROUP BY 1, 2),
ok AS (
  SELECT p.*, cells.cx, cells.cy FROM pts p
  JOIN cells ON floor(p.x / {GRID_DIST}) = cells.cx
            AND floor(p.y / {GRID_DIST}) = cells.cy
            AND cells.c <= {GRID_CELL_CAP}),
-- replicate each point into its 3x3 cell neighborhood and EQUI-join the
-- replicas against home cells — the same plan shape as the Spark side.
-- (An earlier oracle used the brute-force a.id < b.id join: correct, but
-- inequality-only predicates nested-loop in DuckDB — O(n^2) distance
-- evaluations, ~half an hour single-threaded at the sf1 rehearsal's 1M
-- points. The cell equi-join hash-joins and is corpus-linear; the output
-- set is identical — each qualifying pair is found exactly once, where
-- the replica of the larger id lands in the smaller id's home cell.)
reps AS (
  SELECT o.event_id, o.x, o.y, o.cx + dx.d AS cx, o.cy + dy.d AS cy
  FROM ok o, (VALUES (-1), (0), (1)) dx(d), (VALUES (-1), (0), (1)) dy(d))
SELECT a.event_id AS id1, r.event_id AS id2,
       (r.x - a.x) * (r.x - a.x) + (r.y - a.y) * (r.y - a.y) AS dist2
FROM ok a JOIN reps r ON a.cx = r.cx AND a.cy = r.cy
WHERE a.event_id < r.event_id
  AND (r.x - a.x) * (r.x - a.x) + (r.y - a.y) * (r.y - a.y)
      <= {GRID_DIST * GRID_DIST}
"""


QUERIES = {
    "slug_names": slug_names,
    "crs_parse": crs_parse,
    "bbox_filter_points": bbox_filter_points,
    "magnitude_validation": magnitude_validation,
    "geometry_type_election": geometry_type_election,
    "envelope_tolerance": envelope_tolerance,
    "reproject_points": reproject_points,
    "clip_points_convex_aoi": clip_points_convex_aoi,
    "grid_distance_pairs": grid_distance_pairs,
}

ORACLE = {
    "slug_names": ORACLE_SLUG,
    "crs_parse": ORACLE_CRS,
    "bbox_filter_points": ORACLE_BBOX,
    "magnitude_validation": ORACLE_MAGNITUDE,
    "geometry_type_election": ORACLE_ELECTION,
    "envelope_tolerance": ORACLE_TOLERANCE,
    "reproject_points": ORACLE_REPROJECT,
    "clip_points_convex_aoi": ORACLE_CLIP_POINTS,
    "grid_distance_pairs": ORACLE_GRID_PAIRS,
}
