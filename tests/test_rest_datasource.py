"""The `arcgis_rest` Python DataSource: schema probe, OID partition
planning, and genuine Catalyst filter pushdown.

Pushdown proof: the mock server evaluates `where` itself and Spark does
NOT re-apply filters the reader consumed in pushFilters — so if the
filter never reached the server, unfiltered rows would leak into the
result and the assertions below would fail.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from op_etl_spark.sources.rest_datasource import ArcGISRestDataSource, ArcGISRestReader
import mock_rest_server as mock


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    spark.dataSource.register(ArcGISRestDataSource)


def _read(spark, **opts):
    reader = (
        spark.read.format("arcgis_rest")
        .option("url", "http://mock/FeatureServer/0")
        .option("fetcher", "mock_rest_server:fetch")
        .option("page_size", "10")
    )
    for k, v in opts.items():
        reader = reader.option(k, v)
    return reader.load()


class TestSchemaAndScan:
    def test_schema_probed_from_layer_metadata(self, spark):
        df = _read(spark)
        assert [f.name for f in df.schema.fields] == [
            "OBJECTID", "name", "pop", "geom_type", "geometry",
        ]
        assert dict(df.dtypes)["pop"] == "bigint"
        assert dict(df.dtypes)["geometry"] == "binary"

    def test_full_scan_returns_all_rows_with_wkb_points(self, spark):
        rows = _read(spark).collect()
        assert len(rows) == mock.N_ROWS
        assert all(r.geom_type == "Point" for r in rows)
        from op_etl_spark.geometry.wkb import wkb_loads

        gt, coords = wkb_loads(bytes(rows[0].geometry))
        assert gt == "Point" and coords[0] == pytest.approx(401000.0)

    def test_oid_batches_become_input_partitions(self, spark):
        # 35 OIDs at page_size 10 -> 4 partitions
        assert _read(spark).rdd.getNumPartitions() == 4


class TestFilterPushdown:
    def test_comparison_filter_evaluated_by_server(self, spark):
        df = _read(spark).filter(F.col("pop") > 200)
        got = sorted(r.OBJECTID for r in df.collect())
        want = sorted(r["OBJECTID"] for r in mock.ROWS if r["pop"] > 200)
        assert got == want and want  # non-trivial selection
        assert len(want) < mock.N_ROWS

    def test_equality_and_in_filters(self, spark):
        df = _read(spark).filter(F.col("name") == "site_3")
        assert {r.name for r in df.collect()} == {"site_3"}
        df2 = _read(spark).filter(F.col("name").isin("site_1", "site_2"))
        got = sorted(r.OBJECTID for r in df2.collect())
        want = sorted(
            r["OBJECTID"] for r in mock.ROWS if r["name"] in ("site_1", "site_2")
        )
        assert got == want

    def test_pushed_filter_prunes_partitions(self, spark):
        # where reaches the returnIdsOnly probe, so fewer OIDs -> fewer
        # input partitions: partition planning composes with pushdown
        df = _read(spark).filter(F.col("pop") > 400)
        n_match = sum(1 for r in mock.ROWS if r["pop"] > 400)
        assert 0 < n_match <= 10
        assert df.rdd.getNumPartitions() == 1

    def test_base_where_option_composes_with_pushed_filters(self, spark):
        df = _read(spark, where="pop > 100").filter(F.col("pop") < 300)
        got = sorted(r.OBJECTID for r in df.collect())
        want = sorted(
            r["OBJECTID"] for r in mock.ROWS if 100 < r["pop"] < 300
        )
        assert got == want

    def test_unsupported_filter_returned_to_spark(self, spark):
        # endswith has no REST translation -> reader must NOT consume it,
        # Spark applies it post-scan; result still correct
        df = _read(spark).filter(F.col("name").endswith("_4"))
        got = {r.name for r in df.collect()}
        assert got == {"site_4"}


class TestTranslationUnit:
    def _reader(self):
        from pyspark.sql.types import StructType

        schema = ArcGISRestDataSource(
            {"url": "http://mock/FeatureServer/0",
             "fetcher": "mock_rest_server:fetch"}
        ).schema()
        assert isinstance(schema, StructType)
        return ArcGISRestReader(
            {"url": "http://mock/FeatureServer/0",
             "fetcher": "mock_rest_server:fetch"},
            schema,
        )

    def test_string_literals_escaped(self):
        from pyspark.sql.datasource import EqualTo

        r = self._reader()
        leftover = list(r.pushFilters([EqualTo(("name",), "o'brien")]))
        assert leftover == []
        assert r.pushed == ["name = 'o''brien'"]

    def test_geometry_column_filter_not_pushed(self):
        from pyspark.sql.datasource import IsNotNull

        r = self._reader()
        f = IsNotNull(("geometry",))
        assert list(r.pushFilters([f])) == [f]
        assert r.pushed == []


def _empty_point_fetch(url, params):
    """One OID batch: a valid point next to an Esri empty point."""
    return {"features": [
        {"attributes": {"OBJECTID": 1, "name": "a"}, "geometry": {"x": 1.0, "y": 2.0}},
        {"attributes": {"OBJECTID": 2, "name": "b"}, "geometry": {"x": None, "y": None}},
    ]}


def test_empty_point_skipped_not_batch_failure():
    """The unencodable feature is skipped, as schema.feature_row skips it;
    the rest of its OID batch still loads."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from op_etl_spark.geometry.wkb import wkb_loads
    from op_etl_spark.sources.rest_datasource import GEOM_COLS, _OidBatchPartition

    schema = StructType(
        [StructField("OBJECTID", LongType()), StructField("name", StringType())] + GEOM_COLS
    )
    reader = ArcGISRestReader(
        {"url": "http://mock/0", "fetcher": "test_rest_datasource:_empty_point_fetch"},
        schema,
    )
    rows = list(reader.read(_OidBatchPartition("OBJECTID IN (1, 2)", 0)))
    assert [r[:3] for r in rows] == [(1, "a", "Point")]
    assert wkb_loads(rows[0][3]) == ("Point", [1.0, 2.0])
