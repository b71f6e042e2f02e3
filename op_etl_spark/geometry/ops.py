"""Spark-facing geometry operators (Arrow Python kernels over the WKB codec).

Design for scale: geometry bytes never leave the executor; each kernel
processes an Arrow batch, and reprojection gathers EVERY coordinate in the
batch into one flat numpy array, transforms once (vectorized Krüger
series), and scatters back — the Python-per-row cost is only WKB
decode/encode, the math is C-speed. Each operator is one Python node and
a row crosses into it once: reprojection is one fused UDF returning
geometry and envelope together, and clip is one mapInArrow pass that
decodes only the rows straddling the AOI edge, after the envelope
prefilter has dropped disjoint rows JVM-side.

Reference parity: T1 Project (etl/process.py:129-156), T2 DefineProjection
(metadata-only, etl/stage_files.py:627-643 — here the SR a null crs
is read as), T3 Clip (etl/process.py:107-123).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from op_etl_spark.sources.schema import BBOX_STRUCT

from .clip import clip_geometry_bbox
from .tm import reproject_xy
from .wkb import envelope as _envelope
from .wkb import wkb_dumps, wkb_loads

# the fused reproject kernel's result: the projected WKB and the four
# envelope fields, flat so the kernel returns a plain pandas frame
REPROJECTED_SCHEMA = T.StructType(
    [T.StructField("geometry", T.BinaryType())] + list(BBOX_STRUCT.fields)
)


def _flatten(c, acc: list) -> None:
    if isinstance(c[0], (int, float)):
        acc.append((float(c[0]), float(c[1])))
    else:
        for sub in c:
            _flatten(sub, acc)


def _rebuild(c, pts):
    if isinstance(c[0], (int, float)):
        x, y = next(pts)
        return [float(x), float(y)]
    return [_rebuild(sub, pts) for sub in c]


def make_reproject_udf(dst_epsg: int):
    """Fused reproject UDF factory: (wkb, src_epsg) -> struct(geometry,
    xmin, ymin, xmax, ymax) in dst_epsg. The envelope comes from the same
    decode as the projection. A null wkb (a row needing no work) returns
    nulls and is never decoded.

    Batch-vectorized: all coordinates of all geometries sharing a source
    CRS are transformed in one numpy call. Marked nondeterministic only
    so the optimizer never copies the call into a pushed-down filter or a
    collapsed projection: each row crosses into Python once.
    """

    @F.pandas_udf(REPROJECTED_SCHEMA)
    def _reproject(geom: pd.Series, src_epsg: pd.Series) -> pd.DataFrame:
        import numpy as np

        decoded: dict[int, tuple] = {}
        by_src: dict[int, list] = {}
        for i, (buf, src) in enumerate(zip(geom, src_epsg)):
            if buf is None:
                continue
            gt, coords = wkb_loads(bytes(buf))
            flat: list = []
            _flatten(coords, flat)
            decoded[i] = (gt, coords)
            by_src.setdefault(int(src), []).append((i, flat))

        out = [(None,) * 5] * len(geom)
        for src, items in by_src.items():
            xs = np.array([p[0] for _, flat in items for p in flat])
            ys = np.array([p[1] for _, flat in items for p in flat])
            tx, ty = reproject_xy(xs, ys, src, dst_epsg)
            off = 0
            for i, flat in items:
                n = len(flat)
                gt, coords = decoded[i]
                new = _rebuild(coords, zip(tx[off : off + n], ty[off : off + n]))
                off += n
                out[i] = (wkb_dumps(gt, new), *_envelope(gt, new))
        return pd.DataFrame(out, columns=REPROJECTED_SCHEMA.names)

    return _reproject.asNondeterministic()


def _clip_straddling(batch, aoi, geom_col: str):
    """Exact clip of the rows of an Arrow batch: each row's geom_type,
    geometry and bbox come from one decode; rows clipped to nothing drop."""
    import pyarrow as pa

    types, geoms, boxes, keep = [], [], [], []
    for buf in batch.column(geom_col).to_pylist():
        gt, coords = clip_geometry_bbox(*wkb_loads(buf), aoi)
        keep.append(gt is not None)
        if gt is not None:
            types.append(gt)
            geoms.append(wkb_dumps(gt, coords))
            boxes.append(_envelope(gt, coords))
    kept = batch.filter(pa.array(keep))
    new = {"geom_type": types, geom_col: geoms, "bbox": boxes}
    return pa.RecordBatch.from_arrays(
        [
            pa.array(new[f.name], f.type) if f.name in new else kept.column(f.name)
            for f in batch.schema
        ],
        schema=batch.schema,
    )


def make_clip_kernel(aoi: tuple[float, float, float, float], geom_col: str = "geometry"):
    """mapInArrow kernel factory for `clip_to_aoi`: Arrow batches of rows
    whose envelope meets the AOI in, clipped rows out. Rows whose envelope
    lies inside the AOI go back as the same Arrow buffers, never decoded
    or converted to Python objects; only straddling rows reach the exact
    clip."""
    xmin, ymin, xmax, ymax = aoi

    def clip_batches(batches):
        import pyarrow as pa

        for batch in batches:
            bx0, by0, bx1, by1 = (
                c.to_numpy(zero_copy_only=False) for c in batch.column("bbox").flatten()
            )
            inside = (bx0 >= xmin) & (bx1 <= xmax) & (by0 >= ymin) & (by1 <= ymax)
            if inside.any():
                yield batch.filter(pa.array(inside))
            if not inside.all():
                out = _clip_straddling(batch.filter(pa.array(~inside)), aoi, geom_col)
                if out.num_rows:
                    yield out

    return clip_batches


# --- DataFrame-level operators (envelope prefilter + exact kernel) ---

def reproject(df: DataFrame, dst_epsg: int, geom_col: str = "geometry",
              crs_col: str = "crs", assume_epsg: int | None = None) -> DataFrame:
    """Project every geometry to dst_epsg; updates geometry, bbox (when
    the frame has one) and crs columns.

    One fused UDF node. Spark evaluates a Python UDF on every row of its
    input, even under `F.when`, so rows already in dst_epsg send a null
    instead of their WKB: they are not decoded and keep their geometry
    bytes and bbox. Other rows get the projected WKB and its envelope
    from one decode.

    Null-CRS rows: `assume_epsg` names the CRS they are assumed to be in
    (the reference's DefineProjection-then-Project chain, T2+T1). The
    default None assumes they are already in dst_epsg — metadata-only
    stamping, NO coordinate transform (plans/staging.stage_features
    passes its default SR)."""
    from op_etl_spark.session import ensure_shipped

    ensure_shipped(df.sparkSession)
    crs_in = f"coalesce(`{crs_col}`, {assume_epsg or dst_epsg})"
    udf = make_reproject_udf(dst_epsg)
    out = df.select("*", udf(
        F.expr(f"CASE WHEN {crs_in} != {dst_epsg} THEN `{geom_col}` END"), F.expr(crs_in)
    ).alias("_g"))
    new = {geom_col: f"coalesce(_g.geometry, `{geom_col}`)", crs_col: str(dst_epsg)}
    if "bbox" in df.columns:
        fields = ", ".join(f"'{f}', _g.{f}" for f in BBOX_STRUCT.names)
        new["bbox"] = f"if(_g.geometry IS NULL, bbox, named_struct({fields}))"
    return out.selectExpr(*[f"{new.get(c, f'`{c}`')} AS `{c}`" for c in df.columns])


def clip_to_aoi(df: DataFrame, bbox: tuple[float, float, float, float],
                geom_col: str = "geometry") -> DataFrame:
    """Clip features to an AOI rectangle (T3).

    Plan shape: (1) the envelope prefilter drops disjoint rows (and null
    geometries) JVM-side at scan speed; (2) one Arrow Python pass
    (`make_clip_kernel`) over the rest, in which rows fully inside the AOI
    pass through undecoded and only straddlers are decoded and clipped,
    getting (geom_type, geometry, bbox) from the same kernel.
    """
    from op_etl_spark.session import ensure_shipped

    ensure_shipped(df.sparkSession)
    xmin, ymin, xmax, ymax = bbox
    b = F.col("bbox")
    intersects = (
        (b["xmax"] >= xmin) & (b["xmin"] <= xmax)
        & (b["ymax"] >= ymin) & (b["ymin"] <= ymax)
    )
    return df.filter(intersects & F.col(geom_col).isNotNull()).mapInArrow(
        make_clip_kernel(bbox, geom_col), df.schema
    )
