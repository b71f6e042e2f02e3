"""CRS parsing and coordinate-magnitude validation.

Re-expresses the reference's SR utilities as column expressions:
 - CRS string → EPSG int (download_rest.py:51-62, download_ogc.py:37-62,
   download_wfs.py:55-73): handles "EPSG:3006", "3006", "CRS84",
   OGC URIs like "http://www.opengis.net/def/crs/EPSG/0/3006" and
   "urn:ogc:def:crs:EPSG::3006", and the CRS84 URI (→ 4326).
 - per-SR coordinate bounds (sr_utils.py:15-60): SWEREF99 TM (3006) and
   SWEREF99 16 30 (3010) easting/northing windows, WGS84 lon/lat box.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# EPSG → (xmin, ymin, xmax, ymax) valid coordinate windows
# (sr_utils.py:39-60: 3006 X∈[2e5,9e5] Y∈[6.1e6,7.7e6]; 4326 lon/lat).
SR_BOUNDS = {
    3006: (200000.0, 6100000.0, 900000.0, 7700000.0),
    3010: (-200000.0, 6100000.0, 1000000.0, 7700000.0),
    4326: (-180.0, -90.0, 180.0, 90.0),
}

CRS84_URIS = (
    "http://www.opengis.net/def/crs/OGC/1.3/CRS84",
    "urn:ogc:def:crs:OGC:1.3:CRS84",
    "CRS84",
    "OGC:CRS84",
)


def crs_to_epsg_expr(col: Column) -> Column:
    """Parse a CRS identifier string into an integer EPSG code (null if
    unparseable). CRS84 normalizes to 4326."""
    up = F.upper(F.trim(col))
    epsg_from_uri = F.regexp_extract(up, r"EPSG[/:]+(?:0[/:])?(\d+)$", 1)
    return (
        F.when(up.isin(*[u.upper() for u in CRS84_URIS]), F.lit(4326))
        .when(up.rlike(r"^\d+$"), up.cast("int"))
        .when(up.rlike(r"^EPSG:\d+$"), F.regexp_extract(up, r"EPSG:(\d+)", 1).cast("int"))
        .when(epsg_from_uri != "", epsg_from_uri.cast("int"))
        .otherwise(F.lit(None).cast("int"))
    )


def crs_to_epsg_py(s: str | None) -> int | None:
    """Python oracle for crs_to_epsg_expr."""
    import re

    if s is None:
        return None
    up = s.strip().upper()
    if up in [u.upper() for u in CRS84_URIS]:
        return 4326
    if re.fullmatch(r"\d+", up):
        return int(up)
    m = re.fullmatch(r"EPSG:(\d+)", up)
    if m:
        return int(m.group(1))
    m = re.search(r"EPSG[/:]+(?:0[/:])?(\d+)$", up)
    if m:
        return int(m.group(1))
    return None


def magnitude_valid_sql(x: str, y: str, epsg: str) -> str:
    """SQL predicate: true when (x, y) lies inside the declared SR's
    plausible window (sr_utils.py:15-60 / stage_files.py:494-500).
    `x`, `y` and `epsg` are SQL expressions. Unknown SRs pass (the
    reference only validates the three canonical systems); a null
    coordinate in a known SR is null, which a filter drops."""
    arms = " ".join(
        f"WHEN {code} THEN {x} >= {xmin!r}D AND {x} <= {xmax!r}D"
        f" AND {y} >= {ymin!r}D AND {y} <= {ymax!r}D"
        for code, (xmin, ymin, xmax, ymax) in SR_BOUNDS.items()
    )
    return f"CASE {epsg} {arms} ELSE true END"


def magnitude_valid_expr(x: str, y: str, epsg: str) -> Column:
    """`magnitude_valid_sql` as a Column, parsed once."""
    return F.expr(magnitude_valid_sql(x, y, epsg))
