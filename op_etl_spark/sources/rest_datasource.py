"""ArcGIS REST as a registrable Spark DataSource (Python DataSource API,
Spark 4) — the DataSource-V2-shaped connector SURVEY.md §4 calls for.

    spark.dataSource.register(ArcGISRestDataSource)
    df = (spark.read.format("arcgis_rest")
            .option("url", "https://host/arcgis/rest/services/x/FeatureServer/0")
            .load())
    df.filter("pop > 1000").select("name").show()

What Catalyst delegates here:

 - **Filter pushdown** (`pushFilters`): =, <, <=, >, >=, IN, IS [NOT]
   NULL predicates on attribute columns are translated into the REST
   `where` clause (reference P1, etl/download_rest.py:78) and evaluated
   BY THE SERVER; only untranslatable filters are returned for Spark to
   re-apply. At scale this is the difference between shipping a layer and
   shipping a selection.
 - **Partition planning** (`partitions`): a `returnIdsOnly` probe plans
   one input partition per OID batch (reference S7,
   etl/download_rest.py:379-422) — Spark schedules the batches
   concurrently across executors, replacing the reference's documented
   (but unimplemented) thread-pool sweep (S8).
 - **Schema** : probed from layer metadata (`fields` list) and mapped to
   Spark types; geometry travels as WKB `binary` + `geom_type` string.

The HTTP layer stays injectable for tests: option `fetcher` is a
"module:callable" dotted path resolved on both driver and executors.
"""

from __future__ import annotations

import json
from importlib import import_module

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .pagination import PAGE_SIZE, plan_oid_batches

_ESRI_TO_SPARK = {
    "esriFieldTypeOID": LongType(),
    "esriFieldTypeInteger": LongType(),
    "esriFieldTypeSmallInteger": LongType(),
    "esriFieldTypeDouble": DoubleType(),
    "esriFieldTypeSingle": DoubleType(),
    "esriFieldTypeString": StringType(),
    "esriFieldTypeGUID": StringType(),
    "esriFieldTypeGlobalID": StringType(),
    "esriFieldTypeDate": LongType(),  # epoch millis, as the REST API emits
}

GEOM_COLS = [
    StructField("geom_type", StringType()),
    StructField("geometry", BinaryType()),
]


def _resolve_fetcher(spec: str | None):
    if not spec:
        from .rest import default_fetcher

        return default_fetcher
    mod, _, name = spec.partition(":")
    return getattr(import_module(mod), name)


def _sql_literal(v) -> str:
    if isinstance(v, str):
        escaped = v.replace("'", "''")
        return f"'{escaped}'"
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


class _OidBatchPartition(InputPartition):
    def __init__(self, where: str, start_id: int):
        self.where = where
        self.start_id = start_id


class ArcGISRestReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType):
        self.url = options["url"]
        self.fetcher_spec = options.get("fetcher")
        self.authority = options.get("authority", "rest")
        self.page_size = int(options.get("page_size", PAGE_SIZE))
        self.base_where = options.get("where", "1=1")
        self.schema_ = schema
        self.attr_fields = [f.name for f in schema.fields
                            if f.name not in ("geom_type", "geometry")]
        self.pushed: list[str] = []

    # --- Catalyst filter -> REST where translation (P1) ---

    def pushFilters(self, filters: list[Filter]):
        for f in filters:
            frag = self._translate(f)
            if frag is None:
                yield f  # Spark re-applies what the server can't evaluate
            else:
                self.pushed.append(frag)

    def _translate(self, f: Filter) -> str | None:
        attr = getattr(f, "attribute", None)
        if not attr or len(attr) != 1 or attr[0] not in self.attr_fields:
            return None
        col = attr[0]
        if isinstance(f, EqualTo):
            return f"{col} = {_sql_literal(f.value)}"
        if isinstance(f, GreaterThan):
            return f"{col} > {_sql_literal(f.value)}"
        if isinstance(f, GreaterThanOrEqual):
            return f"{col} >= {_sql_literal(f.value)}"
        if isinstance(f, LessThan):
            return f"{col} < {_sql_literal(f.value)}"
        if isinstance(f, LessThanOrEqual):
            return f"{col} <= {_sql_literal(f.value)}"
        if isinstance(f, In):
            vals = ", ".join(_sql_literal(v) for v in f.value)
            return f"{col} IN ({vals})"
        if isinstance(f, IsNotNull):
            return f"{col} IS NOT NULL"
        if isinstance(f, IsNull):
            return f"{col} IS NULL"
        return None

    def _combined_where(self) -> str:
        parts = [self.base_where] + self.pushed
        return " AND ".join(f"({p})" for p in parts)

    # --- OID-batch partition planning (S7) ---

    def partitions(self):
        fetcher = _resolve_fetcher(self.fetcher_spec)
        where = self._combined_where()
        doc = fetcher(
            f"{self.url}/query",
            {"where": where, "returnIdsOnly": "true", "f": "json"},
        )
        oid_field = doc.get("objectIdFieldName", "OBJECTID")
        oids = list(doc.get("objectIds") or [])
        batches = plan_oid_batches(oids, self.page_size)
        if not batches:
            return [_OidBatchPartition("", 0)]  # empty layer: one no-op task
        return [
            _OidBatchPartition(
                f"({where}) AND ({b.where_fragment(oid_field)})",
                idx * self.page_size,
            )
            for idx, b in enumerate(batches)
        ]

    # --- per-partition fetch (executor-side) ---

    def read(self, partition: _OidBatchPartition):
        if not partition.where:
            return
        from op_etl_spark.geometry.wkb import wkb_dumps

        from .geojson import _esri_geometry

        fetcher = _resolve_fetcher(self.fetcher_spec)
        want_geom = len(self.attr_fields) != len(self.schema_.fields)
        # a server whose maxRecordCount is below our page_size truncates
        # the OID batch and sets exceededTransferLimit — re-page WITHIN the
        # batch by resultOffset until the server stops truncating
        offset = 0
        while True:
            doc = fetcher(
                f"{self.url}/query",
                {
                    "where": partition.where,
                    "outFields": ",".join(self.attr_fields) or "*",
                    "returnGeometry": "true",
                    "resultOffset": offset,
                    "resultRecordCount": self.page_size,
                    "f": "json",
                },
            )
            feats = doc.get("features") or []
            for feat in feats:
                attrs = feat.get("attributes") or {}
                row = [attrs.get(name) for name in self.attr_fields]
                if want_geom:
                    gt, coords = _esri_geometry(feat.get("geometry"))
                    try:
                        wkb = wkb_dumps(gt, coords) if gt is not None else None
                    except (ValueError, KeyError, TypeError, IndexError):
                        continue  # unencodable (e.g. an Esri empty point): skip it
                    row += [gt, wkb]
                yield tuple(row)
            if not doc.get("exceededTransferLimit") or not feats:
                return
            offset += len(feats)


class ArcGISRestDataSource(DataSource):
    """`format("arcgis_rest")` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "arcgis_rest"

    def schema(self) -> StructType:
        fetcher = _resolve_fetcher(self.options.get("fetcher"))
        meta = fetcher(self.options["url"], {"f": "json"})
        fields = [
            StructField(f["name"], _ESRI_TO_SPARK.get(f.get("type"), StringType()))
            for f in meta.get("fields") or []
        ]
        return StructType(fields + GEOM_COLS)

    def reader(self, schema: StructType) -> ArcGISRestReader:
        return ArcGISRestReader(dict(self.options), schema)
