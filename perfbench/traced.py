"""The traced run: per-layer metrics for one workload.

Runs the workload's passes untraced first, then the same pass traced, in
one process, so the traced pass's blocking self times can be reconciled
with the untraced wall time and the tracing overhead reported. Spans are
recorded around the benchmark's calls into each layer (`run.py`), the
benchmark sink logs its requests from the workers, and Spark's own
counters come from the application status store.
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import run, sink
from perfbench.trace import Py4jCounter, RssSampler, SparkCounters, Tracer, \
    covered, self_times

#: largest |layer self times - untraced wall| / untraced wall the traced run
#: accepts; a larger gap fails the run. It is the bound BENCHMARK.json gives
#: the end-to-end metrics: on the 4-vCPU VM the benchmark was sized on, one
#: 2 s pass differed from the median of its run by up to ~15%.
RECONCILE_TOLERANCE = 0.25

SINK_SPAN = "streaming.sinks.put_records"
SPARK = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
         "shuffle_write_mb", "spill_mb", "jvm_gc_s")


def _decode_s_per_mb(paths: list[str], limit: int = 3) -> float:
    """Single-thread `decompress_auto` over the first objects: seconds per
    MB of decoded NDJSON."""
    from amazon_kinesis_replay_spark.sources.lz4frame import decompress_auto
    secs, mb = 0.0, 0.0
    for p in paths[:limit]:
        with open(p, "rb") as fh:
            data = fh.read()
        t0 = time.perf_counter()
        text = decompress_auto(data, path=p)
        secs += time.perf_counter() - t0
        mb += len(text) / 2**20
    return secs / mb


def _source_scan(spark, data_dir: str) -> tuple[float, int]:
    """Standalone batch `read_events_sniffed` of the corpus (no replay),
    written to noop; returns (seconds, events out)."""
    from amazon_kinesis_replay_spark.config import ReplayConfig
    from amazon_kinesis_replay_spark.sources import ndjson
    cfg = ReplayConfig(source_path=data_dir)
    t0 = time.perf_counter()
    ndjson.read_events_sniffed(spark, cfg).write.format("noop").mode(
        "overwrite").save()
    secs = time.perf_counter() - t0
    return secs, ndjson.read_events_sniffed(spark, cfg).count()


def _count_lines(paths: list[str], data_dir: str) -> int:
    from amazon_kinesis_replay_spark.sources.lz4frame import decompress_auto
    n = 0
    for p in paths + [os.path.join(data_dir, "README.md")]:
        with open(p, "rb") as fh:
            n += decompress_auto(fh.read(), path=p).count(b"\n")
    return n


def _progress_overhead_ms(progress) -> float:
    """Trigger time not spent in foreachBatch, summed over the progress
    reports Structured Streaming keeps for the query."""
    return float(sum(p.durationMs.get("triggerExecution", 0)
                     - p.durationMs.get("addBatch", 0) for p in progress))


def _in_pass(span: dict, res: dict) -> bool:
    return res["t0"] <= span["start"] <= res["t0"] + res["wall_s"]


def _replay_layers(tracer: Tracer, res: dict) -> dict:
    spans = tracer.spans
    req = res["req"]
    batches = [s for s in spans if s["name"] ==
               "streaming.replay.process_batch" and _in_pass(s, res)]
    durs = [b["end"] - b["start"] for b in batches]
    # requests by the micro-batch whose foreachBatch call they fall in
    gaps = []
    for a, b in zip(batches, batches[1:]):
        in_a = req["accept"][(req["start"] >= a["start"])
                             & (req["start"] <= a["end"])]
        in_b = req["start"][(req["start"] >= b["start"])
                            & (req["start"] <= b["end"])]
        if len(in_a) and len(in_b):
            gaps.append((in_b.min() - in_a.max()) * 1e3)
    # retry waits: a retry call's start minus the end of the call before
    # it on the same sink
    order = sorted(range(len(req["start"])),
                   key=lambda i: (req["sender"][i], req["start"][i]))
    wait = 0.0
    for prev, cur in zip(order, order[1:]):
        if req["retry"][cur] and req["sender"][cur] == req["sender"][prev]:
            wait += req["start"][cur] - req["accept"][prev]
    n = int(req["count"].sum())
    retried = res["stats"].sink.retried_records
    lat = res["lateness_ms"]
    return {
        "micro_batches": len(batches),
        "process_batch_s_p50": statistics.median(durs) if durs else 0.0,
        "process_batch_s_max": max(durs, default=0.0),
        "trigger_overhead_ms": _progress_overhead_ms(res["progress"]),
        "batch_gap_ms_max": max(gaps, default=0.0),
        "sink_requests": len(req["start"]),
        "sink_retried_records": retried,
        "retry_wait_s": wait,
        "sink_busy_s": float((req["accept"] - req["start"]).sum()),
        "sink_accept_ratio": n / (n + retried) if n else 0.0,
        "replay_events_per_s": n / res["wall_s"],
        "first_record_s": res["first_record_s"],
        "pacing_lateness_p99_ms": sink.percentile(lat, 99) if len(lat)
        else 0.0,
        "late_requests_pct": 100.0 * float((lat > sink.LATE_MS).mean())
        if len(lat) else 0.0,
    }


def _attach_sink_spans(tracer: Tracer, res: dict) -> int:
    """Add each sink request as a span under the foreachBatch call it ran
    in (the workers log them; the driver has the batch spans). A request
    that starts outside every foreachBatch call goes under the stream's
    span. Returns the number of those."""
    spans = tracer.spans
    batches = [i for i, s in enumerate(spans)
               if s["name"] == "streaming.replay.process_batch"
               and _in_pass(s, res)]
    stream = next(i for i, s in enumerate(spans)
                  if s["parent"] == res["pass_idx"]
                  and s["name"] == "streaming.replay.run_replay_stream")
    outside = 0
    for a, b in zip(res["req"]["start"], res["req"]["accept"]):
        parent = next((i for i in batches
                       if spans[i]["start"] <= a <= spans[i]["end"]), None)
        if parent is None:
            parent, outside = stream, outside + 1
        tracer.add(SINK_SPAN, float(a), float(b), parent)
    return outside


def layer_self_times(spans: list[dict], layer_of: dict,
                     in_run) -> dict:
    """Self times of the traced pass summed by layer. `layer_of` maps span
    names to layers; the sink requests under a span count as the `sink`
    layer, parallel senders once, and are taken out of that span's own
    self time. So the layers add up to the pass's wall time."""
    selfs = self_times(spans)
    out = dict.fromkeys(set(layer_of.values()), 0.0)
    for i, s in enumerate(spans):
        if not in_run(s) or s["name"] not in layer_of:
            continue
        out[layer_of[s["name"]]] += selfs[i]
        reqs = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in spans if c["parent"] == i and c["name"] == SINK_SPAN]
        if reqs:
            out["self.sink_s"] = out.get("self.sink_s", 0.0) + covered(
                [(lo, hi) for lo, hi in reqs if hi > lo])
    return out


#: the replay pass's blocking chain: reader construction, the stream's own
#: work (query start, triggers, commits), the engine's foreachBatch calls
#: and, inside them, the sink requests
REPLAY_LAYERS = {"replay_pass": "self.stream_s",
                 "sources.ndjson.read_events_stream": "self.read_s",
                 "streaming.replay.run_replay_stream": "self.stream_s",
                 "streaming.replay.process_batch": "self.process_batch_s"}


def traced_replay(seed: int, seconds: float):
    inputs = run.replay_inputs(seed)
    tracer = Tracer(f"replay-{seed}")
    spark, _, builds, warms = run._setups(
        lambda: run.replay_setup(inputs, tracer=tracer))
    untraced = run.replay_passes(spark, inputs, seconds)
    out = {"session_build_s": builds[0],        # the cold one
           "warmup_s": statistics.median(warms)}
    counters = SparkCounters(spark)
    problems = []
    for name, part in run.REPLAY_PARTS.items():
        main = inputs[name][0]
        counters.mark()
        res = run.replay_pass(spark, part, *main, tracer=tracer)
        layer = counters.read()
        outside = _attach_sink_spans(tracer, res)
        if outside:
            run._log(f"{name}: {outside} sink request(s) outside every "
                     "foreachBatch call")
        layer.update(_replay_layers(tracer, res))
        selfs = layer_self_times(tracer.spans, REPLAY_LAYERS,
                                 lambda s, r=res: _in_pass(s, r))
        layer.update(selfs)
        # untraced passes before and after bracket the traced one
        untraced[name].append(run.replay_pass(spark, part, *main))
        rec, miss = reconcile(sum(selfs.values()), res["wall_s"],
                              statistics.median(p["wall_s"]
                                                for p in untraced[name]))
        layer.update(rec)
        problems += [f"{name}: {m}" for m in miss]
        if part["sniffed"]:
            layer["decode_s_per_mb"] = _decode_s_per_mb(main[1]["paths"])
            layer["source_scan_s"], layer["source_events_out"] = \
                _source_scan(spark, main[0])
            layer["source_lines_in"] = _count_lines(main[1]["paths"],
                                                    main[0])
        out.update({f"{name}.{k}": v for k, v in layer.items()})
        untraced[name].append(res)            # for the delivery checks
    passes = [p for v in untraced.values() for p in v]
    problems += [q for p in passes for q in p["problems"]]
    failed = sum(p["failed"] for p in passes)
    attempted = sum(inputs[k][0][1]["n_valid"] * len(v)
                    for k, v in untraced.items())
    # the single-thread baseline that shows scaling of the lz4 replay
    spark.stop()
    spark = run.build_session(1)
    lz4 = run.REPLAY_PARTS["lz4"]
    run.replay_pass(spark, lz4, *inputs["lz4"][1], speedup=1e12)
    one = run.replay_pass(spark, lz4, *inputs["lz4"][0])
    out["lz4.replay_events_per_s_1core"] = one["events"] / one["wall_s"]
    problems += one["problems"]
    failed += one["failed"]
    attempted += inputs["lz4"][0][1]["n_valid"]
    spark.stop()
    tracer.write(_trace_path(f"replay-{seed}"))
    return out, problems, attempted, failed


def traced_queries(wl: dict, seed: int, seconds: float):
    tables = run.query_inputs(wl, seed)
    tracer = Tracer(f"queries-{seed}")
    spark, _, builds, warms = run._setups(
        lambda: run.queries_setup(tables, tracer=tracer))
    misses = run.check_queries(spark, tables)
    before = run.query_pass(spark, tables)
    py4j = Py4jCounter(spark)
    counters = SparkCounters(spark)
    t0 = time.time()
    res = run.query_pass(spark, tables, tracer=tracer, py4j=py4j,
                         counters=counters)
    after = run.query_pass(spark, tables)     # brackets the traced pass
    spark.stop()
    tracer.write(_trace_path(f"queries-{seed}"))
    out = {"session_build_s": builds[0],        # the cold one
           "warmup_s": statistics.median(warms)}
    q = dict.fromkeys(SPARK, 0.0)
    for name, rec in res.items():
        out[f"{name}.s"] = rec["s"]
        out[f"{name}.construct_s"] = rec["construct_s"]
        out[f"{name}.py4j_calls"] = rec["py4j_calls"]
        out[f"{name}.jobs"] = rec["jobs"]
        if name in run.LLM_OPS:
            out[f"{name}.shuffle_mb"] = rec["shuffle_write_mb"]
        for k in SPARK:
            q[k] += rec[k]
    q["relational_queries_s"] = sum(res[n]["s"] for n in run.RELATIONAL)
    q["llm_ops_queries_s"] = sum(res[n]["s"] for n in run.LLM_OPS)
    # an entry's own span (outside construction and action) is the few
    # microseconds between the two, counted with construction
    layers = {"plans.construct": "self.construct_s",
              "plans.action": "self.action_s"}
    layers.update({f"plans.{n}": "self.construct_s" for n in res})
    selfs = layer_self_times(tracer.spans, layers, lambda s: s["start"] >= t0)
    q.update(selfs)
    rec, miss = reconcile(sum(selfs.values()),
                          sum(r["s"] for r in res.values()),
                          (sum(r["s"] for r in before.values())
                           + sum(r["s"] for r in after.values())) / 2)
    q.update(rec)
    out.update({f"queries.{k}": v for k, v in q.items()})
    problems = [f"{k}: {v}" for k, v in misses.items()] + miss
    return out, problems, len(res), len(misses)


def reconcile(self_sum_s: float, traced_s: float,
              untraced_s: float) -> tuple[dict, list[str]]:
    """Check the traced pass's layer self times against the wall times:
    their sum must equal the traced wall (time no layer accounts for would
    show here) and stay within RECONCILE_TOLERANCE of the untraced wall.
    Returns the tracing overhead (traced minus untraced wall) and the gap,
    and the checks that failed."""
    gap = abs(self_sum_s - untraced_s) / untraced_s
    problems = []
    if abs(self_sum_s - traced_s) > 1e-3 * traced_s:
        problems.append(f"layer self times add up to {self_sum_s:.3f} s, "
                        f"the traced pass took {traced_s:.3f} s")
    if gap > RECONCILE_TOLERANCE:
        problems.append(f"layer self times ({self_sum_s:.3f} s) and the "
                        f"untraced wall ({untraced_s:.3f} s) differ by "
                        f"{100 * gap:.1f}%, more than "
                        f"{100 * RECONCILE_TOLERANCE:.0f}%")
    return {"tracing_overhead_s": traced_s - untraced_s,
            "reconcile_gap_pct": 100.0 * gap}, problems


def _trace_path(tag: str) -> str:
    d = os.path.join(run.WORK, "traces")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{tag}.json")


def traced(name: str, seed: int, seconds: float) -> dict:
    wl = run.WORKLOADS[name]
    with RssSampler() as rss:
        if wl["kind"] == "replay":
            out, problems, attempted, failed = traced_replay(seed, seconds)
        else:
            out, problems, attempted, failed = traced_queries(wl, seed,
                                                              seconds)
    out["peak_rss_mb"] = rss.peak_mb
    metrics, missing = per_layer_metrics(out, name)
    problems += [f"per-layer metric {k} was not measured" for k in missing]
    for p in problems:
        run._log(f"problem: {p}")
    return {"correct": not problems, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _workload_of(metric: str) -> str | None:
    """The workload that measures a per-layer metric; None for both."""
    if "." not in metric:
        return None
    return "replay" if metric.split(".")[0] in run.REPLAY_PARTS \
        else "headline_queries"


def per_layer_metrics(out: dict, workload: str) -> tuple[dict, list[str]]:
    """Every per-layer metric of BENCHMARK.json with its unit there: the
    measured value, or 0 for a layer the workload does not run. Also
    returns the metrics of this workload's layers that were not
    measured."""
    units = run.benchmark_units("per_layer")
    missing = [k for k in units if k not in out
               and _workload_of(k) in (None, workload)]
    return ({k: {"value": float(out.get(k, 0.0)), "unit": u}
             for k, u in units.items()}, missing)
