#!/usr/bin/env python3
"""Replay-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Inputs are generated from --seed into
`.perfbench_work/cache` (once per seed). With --trace 0 the last stdout line
is the end-to-end result; with --trace 1 it carries the per-layer metrics of
a traced run. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

#: the two replay parts of the `replay` workload. `lz4`: the reference's
#: default input (.json.lz4) through the sniffed binary path, replayed as
#: fast as the engine goes. `paced`: the real-time claim -- JVM gzip path,
#: the reference's speedup, and a sink that refuses each sender's first
#: record of every micro-batch once.
REPLAY_PARTS = {
    "lz4": {"codec": "lz4", "sniffed": True, "speedup": 1e12,
            "throttle": False, "n_objects": 5, "events_per_object": 4_000,
            "mean_gap_ms": 200.0},
    "paced": {"codec": "gzip", "sniffed": False, "speedup": 6480.0,
              "throttle": True, "n_objects": 6,
              "events_per_object": 16_000, "mean_gap_ms": 200.0},
}
REPLAY_COMMON = {"max_files_per_trigger": 4, "senders": 4}
WORKLOADS = {
    "replay": {"kind": "replay"},
    "headline_queries": {"kind": "queries", "scale": 0.01},
}
#: the headline entries measured: a subset of bench.py's HEADLINE that
#: keeps a run inside the benchmark's time budget (see README.md)
RELATIONAL = ["q3_shipping_priority", "q5_local_supplier",
              "agg_events_by_type", "window_rate_stats", "replay_plan"]
LLM_OPS = ["ngram_jaccard_dedup", "ann_topk_cosine", "doc_text_profile",
           "training_data_pipeline"]
#: the set-up's warm-up query (not measured)
WARMUP_QUERY = "q1_pricing_summary"
SETUP_REPS = 3
#: replay tail: percentile of per-record lateness over a run's paced passes
TAIL_PCT = 99
WARMUP = {"n_objects": 2, "events_per_object": 500}


def _prepare_env() -> None:
    """Keep every scratch file inside the checkout (the previous run's are
    removed) and size the driver; must run before pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    import tempfile
    tempfile.tempdir = tmp


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def build_session(cpus: int):
    from amazon_kinesis_replay_spark import session
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    spark = session.build_spark("perfbench")
    session.ensure_engine_conf(spark)
    return spark


def shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# Replay workloads
# ---------------------------------------------------------------------------


class TracedBatches:
    """foreachBatch callable that times each call into the engine."""

    def __init__(self, engine, tracer):
        self.engine = engine
        self.tracer = tracer

    def __call__(self, batch_df, batch_id):
        with self.tracer.span("streaming.replay.process_batch"):
            self.engine.process_batch(batch_df, batch_id)


def replay_pass(spark, part: dict, data_dir: str, manifest: dict,
                speedup: float | None = None, throttle: bool | None = None,
                tracer=None) -> dict:
    """One replay of a corpus through the engine's public streaming entry
    points into the benchmark sink, checked against the manifest."""
    from pyspark import cloudpickle

    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources import ndjson
    from amazon_kinesis_replay_spark.streaming.replay import (
        ReplayEngine, run_replay_stream)
    from perfbench import corpus, sink
    for mod in (corpus, sink):        # workers build the sink
        cloudpickle.register_pickle_by_value(mod)
    speedup = part["speedup"] if speedup is None else speedup
    throttle = part["throttle"] if throttle is None else throttle
    tag = uuid.uuid4().hex
    run_dir = os.path.join(WORK, "runs", tag)
    ckpt = os.path.join(WORK, "ckpt", tag)
    os.makedirs(run_dir)
    cfg = ReplayConfig(source_path=data_dir, speedup_factor=speedup,
                       sender_threads=REPLAY_COMMON["senders"])
    engine = ReplayEngine(cfg, sink.SinkFactory(run_dir, throttle),
                          mode="partitioned")
    read = (ndjson.read_events_stream_sniffed if part["sniffed"]
            else ndjson.read_events_stream)
    span = tracer.span if tracer else _no_span
    t0 = time.time()
    with span("replay_pass") as pass_idx:
        with span("sources.ndjson.read_events_stream"):
            events = read(spark, cfg, max_files_per_trigger=REPLAY_COMMON[
                "max_files_per_trigger"])
        with span("streaming.replay.run_replay_stream"):
            query = run_replay_stream(
                events, TracedBatches(engine, tracer) if tracer else engine,
                ckpt)
            query.awaitTermination()
    t1 = time.time()
    progress = query.recentProgress if tracer else []
    req = sink.read_requests(run_dir)
    problems, failed = sink.check(req, manifest)
    if query.exception() is not None:
        problems.append(f"stream failed: {query.exception()}")
    out = {"wall_s": t1 - t0, "t0": t0, "events": int(req["count"].sum()),
           "first_record_s": (float(req["accept"].min()) - t0
                              if len(req["accept"]) else t1 - t0),
           "lateness_ms": sink.lateness_ms(req, manifest["first_ms"] / 1e3,
                                           speedup),
           "record_lateness_ms": sink.record_lateness_ms(
               req, manifest["first_ms"] / 1e3, speedup),
           "problems": problems, "failed": failed, "req": req,
           "progress": progress, "stats": engine.stats,
           "pass_idx": pass_idx}
    shutil.rmtree(run_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out


def _no_span(name):
    return contextlib.nullcontext()


def replay_inputs(seed: int) -> dict:
    """{part: ((corpus dir, manifest), (warm-up dir, manifest))}"""
    from perfbench import corpus
    cache = os.path.join(WORK, "cache")
    corpus.prune(cache)
    out = {}
    for name, part in REPLAY_PARTS.items():
        main = corpus.load_or_write_corpus(
            cache, seed, n_objects=part["n_objects"], codec=part["codec"],
            events_per_object=part["events_per_object"],
            mean_gap_ms=part["mean_gap_ms"])
        warm = corpus.load_or_write_corpus(cache, seed, codec=part["codec"],
                                           **WARMUP)
        out[name] = (main, warm)
    return out


def replay_setup(inputs: dict, tracer=None):
    """Session build + ensure_engine_conf + one warm-up replay per part;
    returns (spark, seconds, build seconds, warm-up seconds)."""
    span = tracer.span if tracer else _no_span
    t0 = time.perf_counter()
    with span("session.build"):
        spark = build_session(_cpus())
    t1 = time.perf_counter()
    with span("warmup"):
        for name, part in REPLAY_PARTS.items():
            warm = inputs[name][1]
            res = replay_pass(spark, part, warm[0], warm[1], speedup=1e12,
                              throttle=False)
            if res["problems"]:
                raise RuntimeError(f"warm-up replay failed: "
                                   f"{res['problems']}")
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t2 - t0, t1 - t0, t2 - t1


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _measure(one_pass, seconds: float) -> list:
    """Repeat a pass until `seconds` have passed, and at least twice: the
    first pass after set-up can still run slower, and a fixed minimum keeps
    runs on fast and slow machines comparable."""
    t_end = time.monotonic() + seconds
    out = [one_pass(), one_pass()]
    while time.monotonic() < t_end:
        out.append(one_pass())
    return out


def _setups(run_setup, reps: int = SETUP_REPS):
    """Set up `reps` times in this process: the first starts the JVM and
    the session, later ones get the same session back from `build_spark`.
    Returns the session and the per-rep total, build and warm-up
    seconds."""
    spark, times, builds, warms = None, [], [], []
    for _ in range(reps):
        spark, total, build, warm = run_setup()
        times.append(total)
        builds.append(build)
        warms.append(warm)
    return spark, times, builds, warms


def replay_passes(spark, inputs: dict, seconds: float) -> dict:
    """{part: [pass results]}; the run's seconds are split evenly."""
    return {name: _measure(lambda: replay_pass(spark, part, *inputs[name][0]),
                           seconds / len(REPLAY_PARTS))
            for name, part in REPLAY_PARTS.items()}


def run_replay(seed: int, seconds: float) -> dict:
    inputs = replay_inputs(seed)
    spark, setup_times, _, _ = _setups(lambda: replay_setup(inputs))
    passes = replay_passes(spark, inputs, seconds)
    spark.stop()
    _log(f"setups {[round(t, 2) for t in setup_times]} passes "
         + str({k: [round(p['wall_s'], 2) for p in v]
                for k, v in passes.items()}))
    return {"setup_s": statistics.median(setup_times), "passes": passes,
            "n_valid": {k: v[0][1]["n_valid"] for k, v in inputs.items()}}


def replay_metrics(res: dict) -> dict:
    from perfbench.sink import percentile
    lz4, paced = res["passes"]["lz4"], res["passes"]["paced"]
    med = statistics.median
    return {
        "work_s": med(p["wall_s"] for p in lz4),
        "first_output_s": med(p["first_record_s"] for p in lz4),
        "tail_ms": percentile(np.concatenate(
            [p["record_lateness_ms"] for p in paced]), TAIL_PCT),
    }


# ---------------------------------------------------------------------------
# Headline queries
# ---------------------------------------------------------------------------


def query_inputs(wl: dict, seed: int) -> str:
    from perfbench import corpus
    cache = os.path.join(WORK, "cache")
    corpus.prune(cache)
    return corpus.load_or_write_tables(cache, seed, wl["scale"])


def queries_setup(tables: str, tracer=None):
    """Session build + ensure_engine_conf + one warm-up query."""
    from amazon_kinesis_replay_spark.plans import QUERIES
    span = tracer.span if tracer else _no_span
    t0 = time.perf_counter()
    with span("session.build"):
        spark = build_session(_cpus())
    t1 = time.perf_counter()
    with span("warmup"):
        QUERIES[WARMUP_QUERY].fn(spark, tables).write.format(
            "noop").mode("overwrite").save()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, t2 - t0, t1 - t0, t2 - t1


def check_queries(spark, tables: str) -> dict:
    """Each headline entry against its DuckDB oracle twin: row count,
    column names and the order-insensitive value hash. Returns
    {name: problem} for the entries that miss."""
    import duckdb

    from amazon_kinesis_replay_spark.plans import QUERIES
    from tools.verify_local import TABLES, value_hash
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = tables
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables, t)}.parquet'")
    misses = {}
    for name in RELATIONAL + LLM_OPS:
        spec = QUERIES[name]
        try:
            df = spec.fn(spark, tables)
            srows, scols = df.collect(), df.columns
            oracle = spec.oracle() if callable(spec.oracle) else spec.oracle
            cur = con.execute(oracle)
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as exc:  # a failing entry is a benchmark result
            misses[name] = f"raised {type(exc).__name__}: {exc}"[:300]
            continue
        if len(srows) != len(orows):
            misses[name] = f"rows {len(srows)} != {len(orows)}"
        elif sorted(scols) != sorted(ocols):
            misses[name] = f"columns {sorted(scols)} != {sorted(ocols)}"
        elif (value_hash(scols, [tuple(r) for r in srows])
              != value_hash(ocols, orows)):
            misses[name] = "value hash differs from the oracle"
    con.close()
    return misses


def query_pass(spark, tables: str, tracer=None, py4j=None,
               counters=None) -> dict:
    """Every headline entry once, cold (cache cleared outside the timer),
    written to the noop sink; returns per-entry seconds (and, traced, the
    construction time, gateway round trips and Spark counters)."""
    from amazon_kinesis_replay_spark.plans import QUERIES
    out = {}
    for name in RELATIONAL + LLM_OPS:
        spark.catalog.clearCache()
        rec = {}
        if counters is not None:
            counters.mark()
        if tracer is None:
            t0 = time.perf_counter()
            df = QUERIES[name].fn(spark, tables)
            df.write.format("noop").mode("overwrite").save()
            rec["s"] = time.perf_counter() - t0
        else:
            with tracer.span(f"plans.{name}") as idx:
                with tracer.span("plans.construct"), py4j.counting():
                    df = QUERIES[name].fn(spark, tables)
                rec["py4j_calls"] = py4j.calls
                with tracer.span("plans.action"):
                    df.write.format("noop").mode("overwrite").save()
            sp = tracer.spans
            rec["s"] = sp[idx]["end"] - sp[idx]["start"]
            rec["construct_s"] = sp[idx + 1]["end"] - sp[idx + 1]["start"]
            rec.update(counters.read())
        out[name] = rec
    return out


def run_queries(wl: dict, seed: int, seconds: float) -> dict:
    tables = query_inputs(wl, seed)
    spark, setup_times, _, _ = _setups(lambda: queries_setup(tables))
    misses = check_queries(spark, tables)      # also the JIT warm-up pass
    passes = _measure(lambda: query_pass(spark, tables), seconds)
    spark.stop()
    _log(f"setups {[round(t, 2) for t in setup_times]} passes "
         f"{[round(sum(r['s'] for r in p.values()), 2) for p in passes]}")
    return {"setup_s": statistics.median(setup_times), "passes": passes,
            "misses": misses}


def query_metrics(res: dict) -> dict:
    med = statistics.median
    passes = res["passes"]
    names = RELATIONAL + LLM_OPS
    return {
        "work_s": med(sum(p[n]["s"] for n in names) for p in passes),
        "first_output_s": med(p[n]["s"] for p in passes for n in names),
        "tail_ms": med(max(p[n]["s"] for n in names) for p in passes) * 1e3,
    }


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

def benchmark_units(kind: str) -> dict:
    """{name: unit} of the `end_to_end` or `per_layer` metrics declared in
    BENCHMARK.json, the one place units are written down."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:]]


def untraced(name: str, seed: int, seconds: float) -> dict:
    wl = WORKLOADS[name]
    ticks0 = _cpu_ticks()
    if wl["kind"] == "replay":
        res = run_replay(seed, seconds)
        metrics = replay_metrics(res)
        attempted = sum(res["n_valid"][k] * len(v)
                        for k, v in res["passes"].items())
        failed = sum(p["failed"] for v in res["passes"].values() for p in v)
        problems = [q for v in res["passes"].values() for p in v
                    for q in p["problems"]]
    else:
        res = run_queries(wl, seed, seconds)
        metrics = query_metrics(res)
        attempted = len(RELATIONAL + LLM_OPS)
        failed = len(res["misses"])
        problems = [f"{k}: {v}" for k, v in res["misses"].items()]
    metrics["setup_s"] = res["setup_s"]
    d = [b - a for a, b in zip(ticks0, _cpu_ticks())]
    _log(f"cpu steal {100.0 * d[7] / max(1, sum(d)):.1f}% of the run")
    for p in problems:
        _log(f"problem: {p}")
    return {"correct": not problems, "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u}
                        for k, u in benchmark_units("end_to_end").items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "amazon_kinesis_replay_spark")):
        print("error: run from a checkout of the replay engine (package "
              "amazon_kinesis_replay_spark not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _prepare_env()
    try:
        if args.trace:
            from perfbench.traced import traced
            result = traced(args.workload, args.seed, args.seconds)
        else:
            result = untraced(args.workload, args.seed, args.seconds)
    finally:
        shutdown_jvm()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
