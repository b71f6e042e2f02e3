"""CLI driver — the engine's equivalent of the reference's `run.py`
(reference: run.py:231-301): load + validate config, build the
SparkSession, compile the source specs into the staged pipeline, execute
selected stages, print the metrics summary.

    python -m op_etl_spark.run --config config.yaml --sources sources.yaml \
        --workspace /data/warehouse [--authority LST] [--type rest]

Stage flags mirror the reference (--download --process --load run
everything when omitted, run.py:289). Connectors are resolved per
protocol from the real implementations; tests inject mocks through the
same `Pipeline(connectors=...)` seam.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def default_connectors(downloads_dir: str | None = None) -> dict:
    """protocol -> (spark, source_spec) -> canonical feature DataFrame."""
    from op_etl_spark.sources.download import process_http_source
    from op_etl_spark.sources.geojson import read_feature_files
    from op_etl_spark.sources.ogc import read_collections
    from op_etl_spark.sources.rest import read_rest_layer
    from op_etl_spark.sources.wfs import read_wfs

    def file_conn(spark: SparkSession, src: dict):
        # normalized specs carry file paths in raw.paths (or url for one)
        paths = (src.get("raw") or {}).get("paths") or [src.get("url")]
        return read_feature_files(
            spark,
            [
                {"path": p, "source_name": src["name"], "authority": src["authority"]}
                for p in paths
                if p
            ],
        )

    from op_etl_spark.sources.fetchers import default_json_fetcher, default_text_fetcher

    def rest_conn(spark: SparkSession, src: dict):
        raw = src.get("raw") or {}
        return read_rest_layer(
            spark,
            src["url"],
            src["name"],
            src["authority"],
            where=raw.get("where", "1=1"),
            out_fields=raw.get("out_fields", "*"),
            bbox=tuple(raw["bbox"]) if raw.get("bbox") else None,
        )

    def ogc_conn(spark: SparkSession, src: dict):
        raw = src.get("raw") or {}
        collections = raw.get("collections")
        if not collections:
            # unconfigured (e.g. atom-dispatched) service: discover, with
            # optional include patterns (etl/download_ogc.py:127-142)
            from op_etl_spark.sources.ogc import discover_collections

            collections = discover_collections(
                default_json_fetcher, src["url"], include=raw.get("include")
            )
        return read_collections(
            spark,
            src["url"],
            collections,
            src["name"],
            src["authority"],
            default_json_fetcher,
            bbox=tuple(raw["bbox"]) if raw.get("bbox") else None,
        )

    def wfs_conn(spark: SparkSession, src: dict):
        raw = src.get("raw") or {}
        typenames = raw.get("typenames")
        if not typenames:
            from op_etl_spark.sources.wfs import discover_typenames

            typenames = discover_typenames(default_text_fetcher, src["url"])
        return read_wfs(
            spark,
            src["url"],
            typenames,
            src["name"],
            src["authority"],
            default_text_fetcher,
            bbox=tuple(raw["bbox"]) if raw.get("bbox") else None,
        )

    def http_conn(spark: SparkSession, src: dict):
        # S1/S2: land the file(s) driver-side, then parse distributed
        paths = process_http_source(src, downloads_dir or "downloads")
        return read_feature_files(
            spark,
            [
                {"path": p, "source_name": src["name"], "authority": src["authority"]}
                for p in paths
            ],
        )

    def atom_conn(spark: SparkSession, src: dict):
        # S12: parse the feed driver-side, then dispatch each route to
        # the matching connector; file enclosures download + parse
        from op_etl_spark.sources.atom import read_atom_routes
        from op_etl_spark.sources.download import download_file, extract_zip, select_candidates
        from op_etl_spark.session import local_frame
        from op_etl_spark.sources.schema import FEATURE_DDL

        routes = read_atom_routes(default_text_fetcher, src["url"])
        out_dir = f"{downloads_dir or 'downloads'}/{src.get('authority', '')}"
        dfs = []
        for route in routes:
            routed = dict(src, url=route.url)
            if route.kind == "file":
                path = download_file(route.url, out_dir)
                paths = (
                    select_candidates(extract_zip(path))
                    if path.endswith(".zip")
                    else [path]
                )
                dfs.append(
                    read_feature_files(
                        spark,
                        [{"path": p, "source_name": src["name"],
                          "authority": src["authority"]} for p in paths],
                    )
                )
            elif route.kind == "wfs":
                dfs.append(wfs_conn(spark, routed))
            elif route.kind == "ogc":
                dfs.append(ogc_conn(spark, routed))
            elif route.kind == "rest":
                dfs.append(rest_conn(spark, routed))
        if not dfs:
            return local_frame(spark, [], FEATURE_DDL)
        result = dfs[0]
        for extra in dfs[1:]:
            result = result.unionByName(extra)
        return result

    return {
        "file": file_conn,
        "http": http_conn,
        "atom": atom_conn,
        "rest": rest_conn,
        "ogc": ogc_conn,
        "wfs": wfs_conn,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="op_etl_spark")
    ap.add_argument("--config", required=True)
    ap.add_argument("--sources", default=None)
    ap.add_argument("--workspace", required=True)
    ap.add_argument("--authority", default=None)
    ap.add_argument("--type", dest="stype", default=None)
    ap.add_argument("--master", default=None)
    # independently selectable steps, mirroring the reference's --download /
    # --process / --load_sde (reference run.py:240-248); none given = all
    ap.add_argument("--download", action="store_true")
    ap.add_argument("--process", action="store_true")
    ap.add_argument(
        "--load", "--load_sde", dest="load", action="store_true"
    )
    args = ap.parse_args(argv)

    from op_etl_spark.config.loader import load_config
    from op_etl_spark.plans.pipeline import Pipeline
    from op_etl_spark.session import get_spark

    cfg = load_config(args.config, args.sources)
    from op_etl_spark.config.logging_setup import setup_logging

    setup_logging(cfg.get("logging"))
    spark = get_spark("op_etl_spark-run", master=args.master)
    downloads_dir = (cfg.get("workspaces") or {}).get("downloads")
    pipe = Pipeline(spark, cfg, connectors=default_connectors(downloads_dir))
    steps = tuple(
        s for s, on in (
            ("download", args.download), ("process", args.process), ("load", args.load)
        ) if on
    ) or None
    result = pipe.run(
        args.workspace, authority=args.authority, stype=args.stype, steps=steps
    )

    n_ok = sum(1 for r in pipe.metrics_rows if r[5])
    n_fail = len(pipe.metrics_rows) - n_ok
    print(json.dumps({"stages": result, "sources_ok": n_ok, "sources_failed": n_fail}))
    return 0 if n_fail == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
