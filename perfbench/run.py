#!/usr/bin/env python3
"""Benchmark of the engine's registry queries: one closed-loop client.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 20 --trace 0

One process, one client thread, Spark on local[<cores this process may use>].
The run:

1. sets up: `session.get_spark` then `registry.load_all`; `setup_s` is the
   time from process start until both have returned;
2. points every file the engine and Spark write at a fresh scratch
   directory; the inputs are the fixture tables in `fixtures/sf0.01`, and
   `--seed` draws the query orders;
3. cold pass: each workload key once, in the listed order, as
   `fn(spark, sf_dir)` (construct) then a `noop` write (execute); after each
   key, outside the timing, its output is checked (check.py);
4. warm passes in new seeded orders until `--seconds` have passed (at
   least three; `pass_s` is their median);
5. prints a context line and then the result line
   `{"correct", "attempted", "failed", "metrics"}`: the end-to-end metrics
   with `--trace 0`, the per-layer metrics with `--trace 1`.

With `--trace 1`, warm passes alternate traced and untraced; spans and
Spark job/stage counts are taken on the traced ones (spans.py) and written
to `.bench_build/traces/`. Exits non-zero without a result line when the
engine's sources are not beside this directory.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

from spans import StageCollector, Tracer, dir_bytes, layer_of  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS: dict[str, list[str]] = {
    # JVM-bound reads: scan, aggregate, join, window, top-k, TPC-H, plus the
    # construction-time staging barriers of the graph and event-flow
    # operators. No Python workers, no writes.
    "warehouse": [
        "scan_parquet", "agg_hash", "join_asof", "win_topk_group",
        "sort_limit", "flagship_hourly_enriched", "tpch_q3",
        "subquery_correlated", "graph_assortativity", "funnel_windowed_salted",
    ],
    # The paper's hourly lifecycle (golden transform, validation, append,
    # streaming foreachBatch) beside the LLM-data operators: Python
    # workers, Arrow transfer, per-job overhead and writes.
    "curation_ingest": [
        "llm_dedup_exact", "llm_sim_search_fast", "llm_text_stats",
        "pipeline_curate_corpus", "udf_pandas", "llm_multimodal_audio",
        "pipeline_golden", "validate_expectations", "sink_parquet_append",
        "stream_foreachbatch_append",
    ],
}

LAYERS = (
    "sources.scans", "operators.aggregates", "operators.joins",
    "operators.windows", "operators.setops", "operators.eventflow",
    "operators.graph", "plans.flagship", "plans.tpch", "plans.subqueries",
    "plans.golden", "plans.validate", "llm.dedup", "llm.simsearch",
    "llm.textstats", "llm.curation", "llm.multimodal", "udfs",
    "sources.sinks", "streaming.twins",
)
LAYER_METRICS = (
    ("construct_s", "s"), ("execute_s", "s"), ("jobs", "count"),
    ("task_busy_s", "s"), ("shuffle_mb", "MB"),
)
WRITING_LAYERS = ("sources.sinks", "streaming.twins")

SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
MIN_WARM_PASSES = 3
DRIVER_MEM = "4g"
TAIL_BEYOND = 10


def _parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=SF_DIR,
                    help="directory of input tables (the smoke test uses fixtures/sf0.001)")
    return ap.parse_args(argv)


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate(run_dir: str) -> dict[str, str]:
    """Point every location the engine, Spark, the JVM and Python write to
    into run_dir, before the JVM starts."""
    names = ("store", "scratch", "local", "tmp", "warehouse")
    d = {n: os.path.join(run_dir, n) for n in names}
    for p in d.values():
        os.makedirs(p, exist_ok=True)
    os.environ["SPARK_GRAFT_STORAGE_BASE"] = "file://" + d["store"]
    os.environ["SPARK_LOCAL_DIRS"] = d["local"]
    os.environ["TMPDIR"] = tempfile.tempdir = d["tmp"]
    # spark-submit starts a launcher JVM before the Spark JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={d['tmp']} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf " + shlex.quote(f"spark.sql.warehouse.dir={d['warehouse']}"),
        f'--driver-java-options "-Djava.io.tmpdir={d["tmp"]} -XX:-UsePerfData"',
        "pyspark-shell",
    ])
    return d


def _setup(cpus: int):
    """session.get_spark + registry.load_all, as a user's process pays it."""
    session = importlib.import_module("bitcoin_price_etl_spark.session")
    registry = importlib.import_module("bitcoin_price_etl_spark.registry")
    spark = session.get_spark("perfbench", cpus=cpus)
    t1 = time.perf_counter()
    reg = registry.load_all()
    t2 = time.perf_counter()
    return spark, reg, t1, t2


def _tail(samples: list[float]) -> tuple[float, int]:
    """Highest whole percentile with at least TAIL_BEYOND samples above it
    (nearest-rank), and its value."""
    s = sorted(samples)
    n = len(s)
    if not n:
        return 0.0, 0
    pct = max(0, math.floor(100 * (n - TAIL_BEYOND) / n))
    while pct > 0 and n - math.ceil(pct * n / 100) < TAIL_BEYOND:
        pct -= 1
    return s[max(0, math.ceil(pct * n / 100) - 1)], pct


def _host_context(spark, args, cpus: int) -> dict:
    jvm = spark._jvm
    return {
        "workload": args.workload, "seed": args.seed,
        "sf_dir": os.path.relpath(os.path.abspath(args.sf_dir), ROOT),
        "nproc": cpus, "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(), "driver_memory": DRIVER_MEM,
        "master": spark.sparkContext.master,
    }


class Runner:
    def __init__(self, spark, registry, keys, sf_dir, write_dirs, args):
        self.spark = spark
        self.registry = registry
        self.keys = keys
        self.sf_dir = sf_dir
        self.write_dirs = write_dirs
        self.trace = bool(args.trace)
        self.order_rng = random.Random(args.seed)
        self.attempted = 0
        self.failed = 0
        self.written_mb: dict[str, float] = {}
        if self.trace:
            self.tracer = Tracer()
            self.collector = StageCollector(spark)

    def seeded_order(self) -> list[str]:
        order = list(self.keys)
        self.order_rng.shuffle(order)
        return order

    def run_pass(self, label: str, order: list[str], checker=None, traced=False,
                 storage=False):
        """One pass over the workload; returns per-query latencies and, when
        traced, per-layer sums."""
        lat: dict[str, float] = {}
        per_layer: dict[str, dict[str, float]] = {}
        pspan = self.tracer.start("pass", label=label) if traced else None
        for key in order:
            fn = self.registry[key].fn
            layer = layer_of(fn)
            self.attempted += 1
            if traced:
                qspan = self.tracer.start("query", pspan["id"], key=key, layer=layer)
                mark = self.collector.mark()
            if storage:
                size0 = sum(dir_bytes(d) for d in self.write_dirs)
            try:
                t0 = time.perf_counter()
                df = fn(self.spark, self.sf_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception:  # noqa: BLE001 — a failing query is counted, the run goes on
                self.failed += 1
                _log(f"{label} {key} raised:\n{traceback.format_exc()}")
                continue
            lat[key] = t2 - t0
            if traced:
                self.collector.record(layer, mark)
                self.tracer.add("construct", qspan["id"], t0, t1)
                self.tracer.add("execute", qspan["id"], t1, t2)
                self.tracer.end(qspan)
                acc = per_layer.setdefault(layer, {"construct_s": 0.0, "execute_s": 0.0})
                acc["construct_s"] += t1 - t0
                acc["execute_s"] += t2 - t1
            if storage:
                grown = (sum(dir_bytes(d) for d in self.write_dirs) - size0) / 1e6
                self.written_mb[layer] = self.written_mb.get(layer, 0.0) + grown
            if checker is not None:
                try:
                    err = checker.check(key, df)
                except Exception:  # noqa: BLE001 — a failing check is counted
                    err = traceback.format_exc()
                if err:
                    self.failed += 1
                    _log(f"output check {key} failed: {err}")
            del df
        _log(f"{label}: {sum(lat.values()):.2f}s " + " ".join(f"{k}={v:.2f}" for k, v in lat.items()))
        if traced:
            self.tracer.end(pspan)
            for layer, counts in self.collector.drain().items():
                per_layer[layer].update(counts)
        return lat, per_layer


def _median_layers(passes: list[dict]) -> dict[str, float]:
    out = {}
    for layer in LAYERS:
        for name, _unit in LAYER_METRICS:
            vals = [p.get(layer, {}).get(name, 0.0) for p in passes]
            out[f"{layer}.{name}"] = float(statistics.median(vals)) if vals else 0.0
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, dirs: dict[str, str]) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    spark, reg, t1, t2 = _setup(cpus)
    setup = {"setup_s": t2 - _T_START,
             "session.get_spark_s": t1 - _T_START, "registry.load_all_s": t2 - t1}
    try:
        return _measure(spark, reg, args, dirs, cpus, setup)
    finally:
        _stop_spark(spark)


def _measure(spark, reg, args, dirs, cpus, setup):
    keys = WORKLOADS[args.workload]
    # the engine's local scratch (streaming sources, sinks and checkpoints,
    # file-source staging) into run_dir, beside its storage base
    paths = importlib.import_module("bitcoin_price_etl_spark.paths")
    paths.scratch_root = lambda: dirs["scratch"]

    from check import OutputChecker

    _log(f"setup done at {setup['setup_s']:.2f}s")
    sf_dir = os.path.abspath(args.sf_dir)
    context = _host_context(spark, args, cpus)
    runner = Runner(spark, reg, keys, sf_dir, (dirs["store"], dirs["scratch"]), args)
    checker = OutputChecker(sf_dir, reg)
    try:
        # The first query of a fresh session pays most of the JIT and
        # class-loading warm-up, and how much depends on the key; a fixed
        # cold order keeps that cost the same on every run.
        cold_lat, _ = runner.run_pass("cold", list(keys), checker=checker,
                                      storage=runner.trace)
    finally:
        checker.close()

    _log(f"cold pass and checks done at {time.perf_counter() - _T_START:.2f}s")
    warm_lat: list[dict[str, float]] = []
    traced_passes, traced_s, untraced_s = [], [], []
    t_warm = time.perf_counter()
    # a traced run alternates traced and untraced passes: one more pass
    # gives it two traced ones
    min_passes = MIN_WARM_PASSES + runner.trace
    i = 0
    while i < min_passes or time.perf_counter() - t_warm < args.seconds:
        traced = runner.trace and i % 2 == 0
        lat, per_layer = runner.run_pass(f"warm{i}", runner.seeded_order(), traced=traced)
        warm_lat.append(lat)
        (traced_s if traced else untraced_s).append(sum(lat.values()))
        if traced:
            traced_passes.append(per_layer)
        i += 1

    samples = [v for lat in warm_lat for v in lat.values()]
    tail, pct = _tail(samples)
    context.update({
        "warm_passes": len(warm_lat), "query_samples": len(samples),
        "query_tail_s": tail, "query_tail_percentile": pct,
        "keys": keys,
    })
    if not runner.trace:
        metrics = {
            "setup_s": (setup["setup_s"], "s"),
            "cold_pass_s": (sum(cold_lat.values()), "s"),
            "pass_s": (statistics.median(sum(lat.values()) for lat in warm_lat), "s"),
        }
    else:
        per = _median_layers(traced_passes)
        units = dict(LAYER_METRICS)
        metrics = {k: (v, units[k.rsplit(".", 1)[1]]) for k, v in per.items()}
        for layer in WRITING_LAYERS:
            metrics[f"{layer}.written_mb"] = (runner.written_mb.get(layer, 0.0), "MB")
        for k in ("session.get_spark_s", "registry.load_all_s"):
            metrics[k] = (setup[k], "s")
        metrics["trace.pass_s"] = (statistics.median(traced_s), "s")
        metrics["trace.untraced_pass_s"] = (statistics.median(untraced_s), "s")
        metrics["jvm.peak_rss_mb"] = (_jvm_peak_rss_mb(spark), "MB")
        context["run_id"] = runner.tracer.run_id
        runner.tracer.dump(
            os.path.join(ROOT, ".bench_build", "traces",
                         f"{args.workload}-seed{args.seed}-{runner.tracer.run_id}.jsonl"),
            context,
        )
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return context, result


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("bitcoin_price_etl_spark/registry.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            _log(f"engine source {need} not found beside perfbench/; nothing to run")
            return 2
    sys.path[:0] = [ROOT, HERE]
    # Only the two result lines go to stdout: everything else this process
    # and its children (the JVM, Python workers) print goes to stderr.
    result_out = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    run_dir = os.path.join(ROOT, ".bench_build", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        dirs = _isolate(run_dir)
        context, result = run(args, dirs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    with result_out:
        result_out.write(json.dumps({"context": context}) + "\n")
        result_out.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
