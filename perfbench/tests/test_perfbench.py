"""Tests of the benchmark's own code (not of the engine).

    python3 -m pytest perfbench/tests -q            # fast checks
    python3 -m pytest perfbench/tests -q -m slow    # a traced run per workload
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import numpy as np
import pytest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [BENCH_DIR, ROOT]

import gen  # noqa: E402
import run  # noqa: E402
from probes import median, parse_metric, percentile, tail  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _digest(directory: str) -> str:
    h = hashlib.sha256()
    for root, _dirs, names in sorted(os.walk(directory)):
        for n in sorted(names):
            h.update(n.encode())
            with open(os.path.join(root, n), "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _write_all(out: str, seed: int) -> None:
    gen.write_corpus(os.path.join(out, "tables"), seed, 60, 40)
    gen.write_geo_sources(os.path.join(out, "geo"), seed, 2, 30, 1, 50)
    gen.write_event_files(gen.make_events(seed, 0.001), os.path.join(out, "stream"), 3)


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    _write_all(str(tmp_path / "a"), 5)
    _write_all(str(tmp_path / "b"), 5)
    _write_all(str(tmp_path / "c"), 6)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    for sub in ("tables", "geo", "stream"):
        assert _digest(str(tmp_path / "a" / sub)) != _digest(str(tmp_path / "c" / sub))


def test_event_files_partition_the_events(tmp_path):
    import pyarrow.parquet as pq

    events = gen.make_events(3, 0.001)
    gen.write_event_files(events, str(tmp_path), 4)
    parts = [pq.read_table(str(tmp_path / n)) for n in sorted(os.listdir(tmp_path))]
    assert len(parts) == 4
    assert sum(p.num_rows for p in parts) == events.num_rows
    ids = np.concatenate([p.column("event_id").to_numpy() for p in parts])
    assert (ids == np.arange(events.num_rows)).all()


def test_geo_placement_survives_projection(tmp_path):
    """Features written in CRS84 land in the class the generator counted
    them in once projected to SWEREF99 TM (the pipeline's staging CRS)."""
    from op_etl_spark.geometry.tm import geodetic_to_grid

    xmin, ymin, xmax, ymax = gen.AOI_3006
    box = gen._BOXES[4326]
    lon = np.array([box["inside"][0], box["inside"][2] + 0.03] * 2)
    lat = np.array([box["inside"][1], box["inside"][1], box["inside"][3], box["inside"][3]])
    x, y = geodetic_to_grid(lat, lon, 3006)
    assert ((x > xmin) & (x < xmax) & (y > ymin) & (y < ymax)).all()
    _, y_out = geodetic_to_grid(np.array([box["outside"][1]]), np.array([15.0]), 3006)
    assert y_out[0] > ymax
    _, y_lo = geodetic_to_grid(np.array([box["cross_lo"]]), np.array([16.03]), 3006)
    _, y_hi = geodetic_to_grid(np.array([box["cross_hi"]]), np.array([14.0]), 3006)
    assert y_lo[0] < ymax < y_hi[0]


def test_geo_expected_counts_are_plausible(tmp_path):
    sources, sizes = gen.write_geo_sources(str(tmp_path), 9, 3, 200, 1, 400)
    assert sizes["features"] == 3 * 200 + 400
    for s in sources:
        n = 400 if "_l" in s["name"] else 200
        # ~0.9 dominant x ~0.67 inside-or-crossing of ~0.95 in bounds
        assert 0.4 * n < s["expected"] < 0.75 * n


@pytest.mark.parametrize("n", [1, 2, 5, 11, 40])
def test_percentile_matches_numpy(n):
    rng = np.random.default_rng(n)
    xs = list(rng.exponential(3.0, n))
    for q in (0, 10, 25, 50, 75, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(np.percentile(xs, q), rel=1e-12)
    assert median(xs) == pytest.approx(np.median(xs), rel=1e-12)


def test_tail_keeps_ten_samples_beyond():
    assert tail([5.0, 1.0, 3.0]) == 5.0
    for n in (21, 50, 101, 1000):
        xs = list(np.random.default_rng(n).permutation(n).astype(float))
        cut = tail(xs)
        assert sum(1 for x in xs if x > cut) == 10


def test_parse_metric_units():
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "8.8 s (2.1 s, 2.2 s, 2.3 s (stage 3.0: task 3))") == 8.8
    assert parse_metric("total (min, med, max)\n1.5 m (1 ms, 2 ms, 3 ms)") == 90.0
    assert parse_metric("522.8 KiB (1 B, 2 B, 3 B)") == pytest.approx(522.8 * 1024)
    assert parse_metric("1,663") == 1663.0


def test_metric_names_are_well_formed():
    bench = _bench_json()
    names = ([m["name"] for m in bench["end_to_end"]]
             + [m["name"] for m in bench["per_layer"]]
             + [w["name"] for w in bench["workloads"]])
    for name in names:
        assert NAME_RE.fullmatch(name), name
    assert len(names) == len(set(names))


def test_benchmark_json_matches_the_code():
    bench = _bench_json()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert any(m["name"] == "setup_s" and m["better"] == "lower"
               for m in bench["end_to_end"])


# Layers every workload drives, and those each workload adds: a traced run
# of the workload must read each of them as non-zero.
ALL_LAYERS = ["session.start_s", "input.rows", "input.bytes", "executor.run_s",
              "executor.cpu_s", "executor.jobs", "executor.stages", "executor.tasks"]
PYTHON_LAYERS = ["python.run_s", "python.start_s", "python.bytes_sent",
                 "python.bytes_returned"]
WORKLOAD_LAYERS = {
    "geo_etl": PYTHON_LAYERS + [
        "plans.download_s", "plans.process_s", "plans.load_s", "plans.source_p50_s",
        "plans.jobs_per_source", "sources.parse_py_s", "geometry.udf_py_s",
        "geometry.udf_rows_per_feature", "sinks.bytes_written_per_input_byte",
        "sinks.files_written"],
    "curation_cdc": PYTHON_LAYERS + [
        "suite.build_s", "suite.action_s", "operators.phase_s", "catalyst.analysis_ms",
        "catalyst.optimization_ms", "catalyst.planning_ms", "shuffle.write_bytes",
        "shuffle.read_bytes", "sinks.upsert_bytes_per_batch", "streaming.triggers",
        "streaming.addbatch_p50_ms", "streaming.trigger_overhead_p50_ms",
        "streaming.commit_ms", "streaming.state_rows", "streaming.state_bytes"]
    + [f"suite.{q}_s" for q in run.Curation.QUERIES]
    + [f"streaming.{s}_p50_ms" for s in run.StreamCdc.STREAMS.values()],
}


def test_every_workload_has_its_layers():
    assert sorted(WORKLOAD_LAYERS) == sorted(run.WORKLOADS)
    for names in WORKLOAD_LAYERS.values():
        assert set(ALL_LAYERS + names) <= set(run.PER_LAYER)


def _bench(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout[-2000:]
    return result


@pytest.mark.slow
@pytest.mark.parametrize("workload", sorted(WORKLOAD_LAYERS))
def test_traced_run_emits_the_declared_layers(workload):
    result = _bench(workload, 1)
    declared = {m["name"]: m["unit"] for m in _bench_json()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    zero = [k for k in ALL_LAYERS + WORKLOAD_LAYERS[workload]
            if not result["metrics"][k]["value"] > 0]
    assert not zero, zero


@pytest.mark.slow
def test_untraced_run_emits_every_end_to_end_metric():
    result = _bench("curation_cdc", 0)
    declared = {m["name"]: m["unit"] for m in _bench_json()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in result["metrics"].values())
