"""The benchmark's workloads.

Each workload is driven from one client thread in a closed loop: the next
operation starts when the previous one has finished. A workload makes its
inputs from the seed (`generate`), prepares what its output checks need
(`prepare`), and runs passes (`run_pass`). A pass is the workload's whole
list of operations once. It calls only the program's public entry points:
`Pipeline.run`, `run.default_connectors`, `suite.all_queries()[name]` and
the `streaming.*` entry points.

`run_pass(ctx, traced)` returns a `Pass`: wall seconds, operations
attempted and failed, the latency of each batch, and when traced, the
per-layer counters of that pass. A batch is the workload's unit of work:
one source through the download step (`geo_etl`), one stream trigger
(`curation_cdc`). The Spark status surfaces are read only after an
operation ends.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import defaultdict
from dataclasses import dataclass, field

import gen
from probes import catalyst_phases, median, python_layer


@dataclass
class Pass:
    wall_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    batch_ms: list = field(default_factory=list)
    layers: dict = field(default_factory=lambda: defaultdict(float))
    errors: list = field(default_factory=list)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what[:300])

    def add(self, other: "Pass") -> "Pass":
        """Fold `other`, which ran after this pass, into it."""
        self.wall_s += other.wall_s
        self.attempted += other.attempted
        self.failed += other.failed
        self.batch_ms += other.batch_ms
        _add(self.layers, other.layers)
        self.errors += other.errors
        return self


def _tree_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under `path`, ignoring checksum and marker files."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def _add(layers: dict, counters: dict) -> None:
    for k, v in counters.items():
        layers[k] += v


# --- geo_etl --------------------------------------------------------------


class GeoEtl:
    """The reference pipeline end to end: download (parse + stage),
    process (clip to the AOI) and load, through the file connector."""

    name = "geo_etl"
    # Small sources show the fixed cost per source, the large one the cost
    # per feature. A run must fit session start, a warm pass (about 25 s,
    # mostly first-time Python worker cost) and a timed pass in under a
    # minute, so there are 3 sources, not the 18 (16 x 200 + 2 x 25k) that
    # would take over 30 s in the download step alone.
    N_SMALL, SMALL_FEATURES = 2, 200
    N_LARGE, LARGE_FEATURES = 1, 1500

    def generate(self, ctx, out_dir: str) -> dict:
        self.sources, sizes = gen.write_geo_sources(
            out_dir, ctx.seed, self.N_SMALL, self.SMALL_FEATURES,
            self.N_LARGE, self.LARGE_FEATURES)
        self.input_bytes = sizes["bytes"]
        return {"features": sizes["features"], "bytes": sizes["bytes"],
                "sources": len(self.sources)}

    def prepare(self, ctx) -> None:
        from op_etl_spark.config.loader import normalize_source

        specs = [
            normalize_source({"name": s["name"], "authority": s["authority"],
                              "type": "file", "raw": {"paths": [s["path"]]}}, {})
            for s in self.sources
        ]
        self.cfg = {
            "sources": specs,
            "geoprocessing": {"aoi_bbox": list(gen.AOI_3006)},
            "workspaces": {"downloads": ctx.path("downloads"), "staging": ctx.path("ws")},
        }
        self.n_pass = 0

    def _check(self, ctx, p: Pass, metrics_rows: list, targets: list[str]) -> None:
        from pyspark.sql import functions as F

        ok = {r[0]: r[5] for r in metrics_rows}
        loaded = {
            r["source_name"]: r["n"]
            for r in ctx.spark.read.parquet(*targets)
            .groupBy("source_name").agg(F.count(F.lit(1)).alias("n")).collect()
        } if targets else {}
        for s in self.sources:
            p.attempted += 1
            got = loaded.get(s["name"], 0)
            if not ok.get(s["name"], False) or got != s["expected"]:
                p.fail(f"{s['name']}: loaded {got}, expected {s['expected']}")

    def run_pass(self, ctx, traced: bool) -> Pass:
        from op_etl_spark.plans.pipeline import Pipeline
        from op_etl_spark.run import default_connectors

        self.n_pass += 1
        ws = ctx.path(f"ws{self.n_pass}")
        p = Pass()
        pipe = Pipeline(ctx.spark, self.cfg, default_connectors(ctx.path("downloads")))
        ctx.spark.catalog.clearCache()
        if not traced:
            t0 = time.perf_counter()
            targets = pipe.run(ws)["loaded"].values()
            p.wall_s = time.perf_counter() - t0
            rows = pipe.metrics_rows
        else:
            probe = ctx.probe
            probe.collect()
            t0 = time.perf_counter()
            for step in ("download", "process", "load"):
                with ctx.tracer.span(f"plans.{step}"):
                    ts = time.perf_counter()
                    out = pipe.run(ws, steps=(step,))
                    p.layers[f"plans.{step}_s"] += time.perf_counter() - ts
                if step == "download":
                    # each run() resets metrics_rows; only download fills them
                    rows = list(pipe.metrics_rows)
                self._fold(p, probe.collect(), step, rows)
            p.wall_s = time.perf_counter() - t0
            out_bytes, out_files = _tree_bytes(ws)
            p.layers["sinks.bytes_written_per_input_byte"] = out_bytes / self.input_bytes
            p.layers["sinks.files_written"] = out_files
            targets = out["loaded"].values()
        p.batch_ms = [(r[4] - r[3]) * 1e3 for r in rows]
        if traced:
            p.layers["plans.source_p50_s"] = median(p.batch_ms) / 1e3
        self._check(ctx, p, rows, list(targets))
        shutil.rmtree(ws, ignore_errors=True)
        return p

    def _fold(self, p: Pass, raw: dict, step: str, rows: list) -> None:
        _add(p.layers, {k: v for k, v in raw.items() if ":" not in k})
        _add(p.layers, python_layer(raw))
        if step == "download":
            p.layers["plans.jobs_per_source"] = raw.get("executor.jobs", 0) / max(len(rows), 1)
            p.layers["staged_features"] += sum(r[8] for r in rows)
        for key, v in raw.items():
            if key == "MapInPandas:time to run Python workers":
                p.layers["sources.parse_py_s"] += v
            elif key == "ArrowEvalPython:time to run Python workers":
                p.layers["geometry.udf_py_s"] += v
            elif key == "ArrowEvalPython:number of output rows":
                p.layers["geometry.udf_rows"] += v

    def finish_layers(self, layers: dict) -> None:
        staged = layers.pop("staged_features", 0)
        rows = layers.pop("geometry.udf_rows", 0)
        layers["geometry.udf_rows_per_feature"] = rows / staged if staged else 0.0


# --- curation -------------------------------------------------------------


class Curation:
    """LLM-data curation queries (MinHash LSH candidates, the IVF recall
    gate, k-truss), each forced through the `noop` sink. The warm pass
    collects every result and compares its order-insensitive hash with the
    DuckDB oracle. Its batches are not counted: the `curation_cdc`
    workload's batches are the triggers of its streams."""

    # One query per kernel the curation work targets: the shingle kernel,
    # the k-means kernel and the k-truss peel. All twelve curation queries
    # at sf0.1 take about 43 s a pass, more than a whole run may take.
    QUERIES = [
        "minhash_lsh_candidates",
        "ivf_recall_at_k",
        "ktruss_edges",
    ]
    N_DOCS, N_VECS = 500, 500

    def generate(self, ctx, out_dir: str) -> dict:
        self.data_dir = out_dir
        sizes = gen.write_corpus(out_dir, ctx.seed, self.N_DOCS, self.N_VECS)
        return {"rows": sizes["rows"], "bytes": sizes["bytes"]}

    def prepare(self, ctx) -> None:
        from op_etl_spark import suite

        self.queries = suite.all_queries()
        self.oracles = suite.all_oracles()

    def _oracle_hash(self, sql: str) -> str:
        import duckdb

        from tools.check_correctness import table_hash

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{self.data_dir}/{t}.parquet')")
            rel = con.execute(sql)
            cols = [d[0] for d in rel.description]
            rows = [tuple(d[c] for c in cols) for d in rel.fetch_arrow_table().to_pylist()]
        finally:
            con.close()
        return table_hash(rows, cols)

    def check_pass(self, ctx) -> Pass:
        """Untimed: every query's result against its oracle."""
        from tools.check_correctness import table_hash

        p = Pass()
        for name in self.QUERIES:
            p.attempted += 1
            ctx.spark.catalog.clearCache()
            try:
                df = self.queries[name](ctx.spark, self.data_dir)
                got = table_hash([tuple(r) for r in df.collect()], df.columns)
                want = self._oracle_hash(self.oracles[name])
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                p.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            if got != want:
                p.fail(f"{name}: hash {got} != oracle {want}")
        return p

    def run_pass(self, ctx, traced: bool) -> Pass:
        from op_etl_spark.operators import phases

        p = Pass()
        spark = ctx.spark
        if traced:
            ctx.probe.collect()
        t_pass = time.perf_counter()
        for name in self.QUERIES:
            p.attempted += 1
            spark.catalog.clearCache()
            phases.reset()
            try:
                with ctx.tracer.span(f"suite.{name}"):
                    t0 = time.perf_counter()
                    with ctx.tracer.span("suite.build"):
                        df = self.queries[name](spark, self.data_dir)
                    t1 = time.perf_counter()
                    with ctx.tracer.span("suite.action"):
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed query is a counted failure
                p.fail(f"{name}: {type(e).__name__}: {e}")
                continue
            if traced:
                p.layers["suite.build_s"] += t1 - t0
                p.layers["suite.action_s"] += t2 - t1
                p.layers[f"suite.{name}_s"] += t2 - t0
                p.layers["operators.phase_s"] += phases.total()
                raw = ctx.probe.collect()
                _add(p.layers, {k: v for k, v in raw.items() if ":" not in k})
                _add(p.layers, python_layer(raw))
                _add(p.layers, catalyst_phases(df))
        p.wall_s = time.perf_counter() - t_pass
        return p


# --- CDC streams ---------------------------------------------------------


class StreamCdc:
    """The three streaming entry points, each draining the events split
    into `N_FILES` files, one file per trigger (AvailableNow).

    A trigger costs 0.3-1.9 s by stream, hardly more for more rows, and
    about 2.5 times that in the first pass. So a pass of 21 triggers (the
    fewest that leave 10 beyond a percentile above the median) would take
    a run past 100 s: 24 triggers took a 31-s pass after a 72-s warm pass.
    A pass runs 6, and `batch_tail_ms` is the slowest of them."""

    SF, N_FILES = 0.01, 2
    # entry point -> the short name of its per-layer latency
    STREAMS = {"sessionize_stream": "sessionize", "dedup_events_stream": "dedup",
               "start_upsert_stream": "upsert"}

    def generate(self, ctx, out_dir: str) -> dict:
        import pyarrow.parquet as pq

        events = gen.make_events(ctx.seed, self.SF)
        os.makedirs(out_dir, exist_ok=True)
        self.events_path = os.path.join(out_dir, "events.parquet")
        pq.write_table(events, self.events_path)
        self.src = os.path.join(out_dir, "stream")
        gen.write_event_files(events, self.src, self.N_FILES)
        self.n_events = events.num_rows
        _b, _f = _tree_bytes(self.src)
        return {"rows": events.num_rows, "bytes": _b}

    def prepare(self, ctx) -> None:
        import duckdb

        from op_etl_spark import suite
        from tools.check_correctness import table_hash

        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.events_path}')")
            rel = con.execute(suite.all_oracles()["cdc_latest_state"])
            cols = [d[0] for d in rel.description]
            rows = [tuple(d[c] for c in cols) for d in rel.fetch_arrow_table().to_pylist()]
        finally:
            con.close()
        self.want_hash = table_hash(rows, cols)
        self.schema = ctx.spark.read.parquet(self.src).schema
        self.n_pass = 0

    def _source(self, spark):
        return (spark.readStream.schema(self.schema)
                .option("maxFilesPerTrigger", 1).parquet(self.src))

    def _start(self, spark, stream: str, base: str):
        from op_etl_spark.streaming.dedup import dedup_events_stream
        from op_etl_spark.streaming.stateful import sessionize_stream
        from op_etl_spark.streaming.upsert import start_upsert_stream

        events = self._source(spark)
        if stream == "sessionize_stream":
            return (sessionize_stream(events).writeStream.format("noop")
                    .outputMode("update").option("checkpointLocation", f"{base}/ck_s")
                    .trigger(availableNow=True).start())
        if stream == "dedup_events_stream":
            return (dedup_events_stream(events).writeStream.format("noop")
                    .outputMode("append").option("checkpointLocation", f"{base}/ck_d")
                    .trigger(availableNow=True).start())
        return start_upsert_stream(
            events.select("user_id", "event_id", "ts", "value"),
            f"{base}/target", f"{base}/ck_u", key_cols=["user_id"],
            seq_col="event_id", available_now=True)

    def _check_target(self, ctx, p: Pass, base: str) -> None:
        from pyspark.sql import functions as F

        from op_etl_spark.streaming.upsert import read_upsert_target
        from tools.check_correctness import table_hash

        p.attempted += 1
        df = read_upsert_target(ctx.spark, f"{base}/target").select(
            "user_id", F.col("event_id").alias("last_event_id"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("last_ts"),
            F.col("value").alias("last_value"))
        got = table_hash([tuple(r) for r in df.collect()], df.columns)
        if got != self.want_hash:
            p.fail(f"upsert target hash {got} != oracle {self.want_hash}")

    def run_pass(self, ctx, traced: bool) -> Pass:
        spark = ctx.spark
        self.n_pass += 1
        base = ctx.path(f"stream{self.n_pass}")
        p = Pass()
        triggers: list[dict] = []
        if traced:
            ctx.probe.collect()
        t_pass = time.perf_counter()
        for stream in self.STREAMS:
            p.attempted += 1
            spark.catalog.clearCache()
            try:
                with ctx.tracer.span(f"streaming.{stream}"):
                    q = self._start(spark, stream, base)
                    q.awaitTermination()
            except Exception as e:  # noqa: BLE001 - a failed stream is a counted failure
                p.fail(f"{stream}: {type(e).__name__}: {e}")
                continue
            prog = [x for x in q.recentProgress if x["numInputRows"] > 0]
            rows = sum(x["numInputRows"] for x in prog)
            if rows != self.n_events:
                p.fail(f"{stream}: numInputRows {rows} != {self.n_events} events")
            p.batch_ms.extend(x["durationMs"]["triggerExecution"] for x in prog)
            if traced:
                triggers.extend(prog)
                p.layers[f"streaming.{self.STREAMS[stream]}_p50_ms"] = median(
                    [x["durationMs"]["triggerExecution"] for x in prog])
                raw = ctx.probe.collect()
                _add(p.layers, {k: v for k, v in raw.items()
                                if ":" not in k and k != "output_bytes"})
                _add(p.layers, python_layer(raw))
                if stream == "start_upsert_stream":
                    p.layers["sinks.upsert_bytes_per_batch"] = (
                        raw.get("output_bytes", 0) / max(len(prog), 1))
                last = q.lastProgress or {}
                for op in last.get("stateOperators", []):
                    p.layers["streaming.state_rows"] += op.get("numRowsTotal", 0)
                    p.layers["streaming.state_bytes"] += op.get("memoryUsedBytes", 0)
        p.wall_s = time.perf_counter() - t_pass
        self._check_target(ctx, p, base)
        if traced and triggers:
            self._trigger_layers(p, triggers)
        shutil.rmtree(base, ignore_errors=True)
        return p

    @staticmethod
    def _trigger_layers(p: Pass, triggers: list[dict]) -> None:
        dur = [t["durationMs"] for t in triggers]
        total = [d.get("triggerExecution", 0) for d in dur]
        add = [d.get("addBatch", 0) for d in dur]
        p.layers["streaming.triggers"] = len(triggers)
        p.layers["streaming.addbatch_p50_ms"] = median(add)
        p.layers["streaming.trigger_overhead_p50_ms"] = median(
            [a - b for a, b in zip(total, add)])
        p.layers["streaming.commit_ms"] = median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur])


# --- curation_cdc -----------------------------------------------------


class CurationCdc:
    """The curation queries, then the three streams, in each pass.

    Two workloads, not one per part: each run pays session start and a
    warm pass of about 25 s, and the benchmark's whole series of runs must
    fit a fixed time, so the two parts share one run. They share no
    program code beyond the session, and the per-layer metrics keep them
    apart (`suite.*` and `streaming.*`)."""

    name = "curation_cdc"

    def __init__(self):
        self.curation, self.stream = Curation(), StreamCdc()

    def generate(self, ctx, out_dir: str) -> dict:
        a = self.curation.generate(ctx, os.path.join(out_dir, "corpus"))
        b = self.stream.generate(ctx, os.path.join(out_dir, "events"))
        return {"rows": a["rows"] + b["rows"], "bytes": a["bytes"] + b["bytes"]}

    def prepare(self, ctx) -> None:
        self.curation.prepare(ctx)
        self.stream.prepare(ctx)

    def check_pass(self, ctx) -> Pass:
        return self.curation.check_pass(ctx).add(self.stream.run_pass(ctx, False))

    def run_pass(self, ctx, traced: bool) -> Pass:
        first = self.curation.run_pass(ctx, traced)
        return first.add(self.stream.run_pass(ctx, traced))


WORKLOADS = {w.name: w for w in (GeoEtl, CurationCdc)}
