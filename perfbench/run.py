"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. One run:

1. starts the engine's SparkSession on local[<cores>] with every scratch
   directory inside `.perfbench_work/` of the checkout;
2. generates the workload's inputs from the seed three times (the median
   time counts), then pays one untimed warm pass, which also checks every
   output. Session start, input generation and the warm pass are `setup_s`;
3. runs whole passes until the next one would end after `--seconds`
   (at least one) and checks their outputs;
4. prints one JSON line of details, then, as the last line, the result:
   {"correct", "attempted", "failed", "metrics"}.

`--trace 0` reports the end-to-end metrics:

* `setup_s`: session start, the median input generation and the warm pass;
* `wall_s`, `cpu_s`: median wall time and CPU time (this process and all
  its descendants: the driver JVM and the Python workers) of a pass;
* `peak_rss_mb`: peak resident memory (VmHWM) of this process plus the
  driver JVM over the whole run;
* `batch_p50_ms`, `batch_tail_ms`: the median latency of the timed
  passes' batches (a source's download step in `geo_etl`, a stream
  trigger in `curation_cdc`) and the highest percentile with 10 batches
  beyond it, or the slowest batch when a run has 20 or fewer. The details
  line gives the batch count of each pass.

A failed operation or output check counts in `failed` and makes
`correct` false.

`--trace 1` runs at least an untraced, a traced and an untraced pass, and
reports the per-layer metrics of the traced passes, plus
`trace.overhead_s`: the traced minus the untraced median pass time. Spans
go to `.perfbench_out/` at the end of a traced run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from probes import SparkProbe, Tracer, jvm_pid, median, peak_rss_mb, tail, tree_cpu_s  # noqa: E402
from workloads import WORKLOADS, Curation, StreamCdc  # noqa: E402

GEN_REPEATS = 3

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MiB",
    "batch_p50_ms": "ms",
    "batch_tail_ms": "ms",
}

# Every traced run reports all of these, each with its unit; a layer the
# workload does not use reads 0.
PER_LAYER = {
    "session.start_s": "s",
    "input.rows": "count",
    "input.bytes": "bytes",
    "trace.overhead_s": "s",
    "plans.download_s": "s",
    "plans.process_s": "s",
    "plans.load_s": "s",
    "plans.source_p50_s": "s",
    "plans.jobs_per_source": "count",
    "sources.parse_py_s": "s",
    "geometry.udf_py_s": "s",
    "geometry.udf_rows_per_feature": "ratio",
    "sinks.bytes_written_per_input_byte": "ratio",
    "sinks.files_written": "count",
    "sinks.upsert_bytes_per_batch": "bytes",
    "suite.build_s": "s",
    "suite.action_s": "s",
    **{f"suite.{q}_s": "s" for q in Curation.QUERIES},
    "operators.phase_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.jobs": "count",
    "executor.stages": "count",
    "executor.tasks": "count",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.spill_bytes": "bytes",
    "python.run_s": "s",
    "python.start_s": "s",
    "python.bytes_sent": "bytes",
    "python.bytes_returned": "bytes",
    **{f"streaming.{s}_p50_ms": "ms" for s in StreamCdc.STREAMS.values()},
    "streaming.triggers": "count",
    "streaming.addbatch_p50_ms": "ms",
    "streaming.trigger_overhead_p50_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
}


class Context:
    """What a workload needs: the session, its seed, scratch paths, the
    tracer and (traced runs) the Spark status reader."""

    def __init__(self, spark, seed: int, work: str, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.probe = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def configure_env(root: str, work: str) -> int:
    """Point every scratch location of Spark, the JVM and Python at `work`
    and size the engine to this host's cores. Returns the core count."""
    import tempfile

    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEM": "3g",
        "TMPDIR": tmp,
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
    })
    return cores


def spark_conf(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    # A fixed heap and young generation: with G1 resizing both on its own,
    # the driver's peak RSS varied by a quarter from run to run.
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms3g -Xmn512m",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def run(workload_name: str, seed: int, seconds: float, traced: bool,
        root: str, work: str) -> tuple[dict, dict]:
    if workload_name not in WORKLOADS:
        raise SystemExit(f"unknown workload {workload_name!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[workload_name]()
    cores = configure_env(root, work)

    t0 = time.perf_counter()
    from op_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{workload_name}", extra_conf=spark_conf(work))
    session_s = time.perf_counter() - t0
    try:
        return _measure(wl, spark, seed, seconds, traced, work, cores, session_s)
    finally:
        stop_engine(spark)


def stop_engine(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit (it
    exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _measure(wl, spark, seed, seconds, traced, work, cores, session_s):
    tracer = Tracer(run_id=f"{wl.name}-{seed}-{os.getpid()}", enabled=traced)
    ctx = Context(spark, seed, work, tracer)
    me = os.getpid()

    gen_times, sizes = [], {}
    for i in range(GEN_REPEATS):
        out = ctx.path(f"input{i}")
        ts = time.perf_counter()
        sizes = wl.generate(ctx, out)
        gen_times.append(time.perf_counter() - ts)
        if i:
            shutil.rmtree(ctx.path(f"input{i - 1}"), ignore_errors=True)

    ts = time.perf_counter()
    wl.prepare(ctx)
    warm = wl.check_pass(ctx) if hasattr(wl, "check_pass") else wl.run_pass(ctx, False)
    warm_s = time.perf_counter() - ts
    setup_s = session_s + median(gen_times) + warm_s

    if traced:
        ctx.probe = SparkProbe(spark)

    passes = []  # (traced?, Pass, cpu seconds)
    start = time.perf_counter()
    while True:
        # traced runs go untraced, traced, untraced: passes still speed up
        # after the warm pass, so the overhead compares the traced pass with
        # the mean of its two neighbours
        trace_this = traced and len(passes) % 2 == 1
        tracer.enabled = trace_this
        c0 = tree_cpu_s(me)
        p = wl.run_pass(ctx, trace_this)
        passes.append((trace_this, p, tree_cpu_s(me) - c0))
        elapsed = time.perf_counter() - start
        need_both = traced and len(passes) < 3
        if not need_both and elapsed + p.wall_s > seconds:
            break
    tracer.enabled = traced

    attempted = warm.attempted + sum(p.attempted for _, p, _ in passes)
    failed = warm.failed + sum(p.failed for _, p, _ in passes)
    errors = warm.errors + [e for _, p, _ in passes for e in p.errors]
    plain = [(p, c) for t, p, c in passes if not t]
    details = {
        "workload": wl.name, "seed": seed, "cores": cores,
        "input": sizes, "passes": len(passes),
        "pass_wall_s": [round(p.wall_s, 4) for _, p, _ in passes],
        "batches": [len(p.batch_ms) for _, p, _ in passes],
        "gen_s": [round(x, 4) for x in gen_times], "warm_s": round(warm_s, 4),
        "errors": errors[:20],
    }
    if not traced:
        batches = [b for p, _ in plain for b in p.batch_ms]
        metrics = {
            "setup_s": setup_s,
            "wall_s": median([p.wall_s for p, _ in plain]),
            "cpu_s": median([c for _, c in plain]),
            "peak_rss_mb": peak_rss_mb([me] + [p for p in [jvm_pid(me)] if p]),
            "batch_p50_ms": median(batches),
            "batch_tail_ms": tail(batches),
        }
        units = END_TO_END
    else:
        layered = [p for t, p, _ in passes if t]
        layers = {}
        for name in PER_LAYER:
            layers[name] = sum(p.layers.get(name, 0.0) for p in layered) / len(layered)
        if hasattr(wl, "finish_layers"):
            acc = {k: sum(p.layers.get(k, 0.0) for p in layered) for k in
                   ("staged_features", "geometry.udf_rows")}
            wl.finish_layers(acc)
            layers.update(acc)
        layers["session.start_s"] = session_s
        layers["input.rows"] = float(sizes.get("rows", sizes.get("features", 0)))
        layers["input.bytes"] = float(sizes["bytes"])
        layers["trace.overhead_s"] = (median([p.wall_s for p in layered])
                                      - median([p.wall_s for p, _ in plain]))
        metrics = layers
        units = PER_LAYER
        write_spans(tracer, wl.name, seed)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return details, result


def write_spans(tracer: Tracer, workload: str, seed: int) -> None:
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"spans-{workload}-seed{seed}.jsonl"), "w") as f:
        for s in tracer.spans:
            f.write(json.dumps(s) + "\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "op_etl_spark")):
        print("perfbench: run from the root of a checkout (no op_etl_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    try:
        details, result = run(args.workload, args.seed, args.seconds,
                              bool(args.trace), root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
