"""End-to-end streaming replay (SURVEY §5.2 item 4): NDJSON fixture ->
Structured Streaming source -> paced foreachBatch sink, with behavioral
assertions on ordering, batching, pacing, and statistics."""

import collections
import json
import os

import pytest
from pyspark.sql import functions as F

from amazon_kinesis_replay_spark.config import ReplayConfig
from amazon_kinesis_replay_spark.sources import ndjson
from amazon_kinesis_replay_spark.streaming.replay import (
    ReplayEngine, run_replay_stream)
from amazon_kinesis_replay_spark.streaming.sinks import InMemorySink
from amazon_kinesis_replay_spark.tables import load


@pytest.fixture(scope="module")
def stream_fixture(spark, sf_dir, tmp_path_factory):
    """Ordered NDJSON corpus split into 4 files, with bounded out-of-order
    rows inside each file (the reference's input contract allows disorder
    the 100k buffer can absorb; README.md:20)."""
    root = tmp_path_factory.mktemp("stream")
    rows = (load(spark, sf_dir, "events")
            .select("event_id", "ts").orderBy("ts").limit(400).collect())
    files = 4
    per = len(rows) // files
    import os
    for fi in range(files):
        chunk = rows[fi * per:(fi + 1) * per]
        # bounded disorder: swap adjacent pairs
        for i in range(0, len(chunk) - 1, 2):
            chunk[i], chunk[i + 1] = chunk[i + 1], chunk[i]
        fpath = root / f"part-{fi:03d}.json"
        with open(fpath, "w") as fh:
            for r in chunk:
                fh.write(json.dumps({
                    "event_id": r["event_id"],
                    "dropoff_datetime": r["ts"].isoformat()}) + "\n")
        # FileStreamSource orders files by MODIFICATION TIME; same-tick
        # mtimes make processing order (and the global-order assertion)
        # nondeterministic — force strictly increasing mtimes.
        os.utime(fpath, (1_700_000_000 + fi, 1_700_000_000 + fi))
    span_s = (rows[-1]["ts"] - rows[0]["ts"]).total_seconds()
    return str(root), len(rows) // files * files, span_s


def test_driver_mode_replay(spark, stream_fixture, tmp_path):
    path, n_events, span_s = stream_fixture
    # speedup so the whole replay paces out to ~1.5 s of wall clock
    speedup = span_s / 1.5
    cfg = ReplayConfig(source_path=path, speedup_factor=speedup,
                       max_records_per_request=64)
    sink = InMemorySink()
    engine = ReplayEngine(cfg, sink, mode="driver")
    events = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=1)
    import time
    t0 = time.monotonic()
    q = run_replay_stream(events, engine, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    elapsed = time.monotonic() - t0

    # every event delivered exactly once
    sent = [r for b in sink.batches for r in b]
    assert len(sent) == n_events
    assert engine.stats.total_events == n_events
    # batching: every request <= max_records_per_request (OP-SINK-KINESIS)
    assert max(len(b) for b in sink.batches) <= 64
    # ordering: emission nondecreasing in ts within each micro-batch
    # (per-batch sort; OP-SORT-EVENTTIME)
    ts_seq = [r["ts"] for r in sent]
    assert ts_seq == sorted(ts_seq)  # maxFilesPerTrigger=1 + ordered files
    # pacing: wall time at least most of the paced span (OP-RATE-PACE);
    # generous slack — under parallel-suite load trigger scheduling can
    # overlap the pacing sleeps
    assert elapsed >= 1.0
    # watermark stat tracks the max emitted event time (OP-AGG-MAXWM)
    assert engine.stats.max_emitted_ts.isoformat() == max(ts_seq)


def test_driver_mode_refuses_oversized_batch(spark, sf_dir):
    """Driver mode collect()s the batch for exact global pacing; above the
    configured row bound it must refuse with partitioned-mode guidance
    BEFORE collecting, not OOM."""
    import pytest
    from pyspark.sql import functions as F

    from amazon_kinesis_replay_spark.tables import load
    events = load(spark, sf_dir, "events").select(
        F.col("props").alias("payload"), "ts")
    cfg = ReplayConfig(speedup_factor=1e12, driver_mode_max_rows=100)
    engine = ReplayEngine(cfg, InMemorySink(), mode="driver")
    with pytest.raises(ValueError, match="partitioned"):
        engine.process_batch(events, 0)
    assert engine.stats.total_events == 0          # nothing was emitted
    # under the bound the same engine config replays normally
    ok = ReplayEngine(cfg, InMemorySink(), mode="driver")
    ok.process_batch(events.limit(50), 0)
    assert ok.stats.total_events == 50


def test_partitioned_mode_replay(spark, stream_fixture, tmp_path):
    path, n_events, span_s = stream_fixture
    out_dir = tmp_path / "sink"
    cfg = ReplayConfig(source_path=path, speedup_factor=span_s / 0.5,
                       sender_threads=4, max_records_per_request=50)
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink
    engine = ReplayEngine(cfg, lambda: FileSink(str(out_dir)),
                          mode="partitioned")
    events = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=2)
    q = run_replay_stream(events, engine, str(tmp_path / "ckpt2"))
    q.awaitTermination(120)

    sent = []
    for f in sorted(out_dir.glob("*.ndjson")):
        with open(f) as fh:
            sent.extend(json.loads(line) for line in fh)
    assert len(sent) == n_events
    # all request files respect the batch cap
    # (request = one file; per-partition chunking)
    import collections
    per_file = collections.Counter()
    for f in out_dir.glob("*.ndjson"):
        per_file[f.name] = sum(1 for _ in open(f))
    assert max(per_file.values()) <= 50
    # executor-side SinkStats flow back to the driver via accumulators:
    # the end-of-run summary must reflect partitioned-mode sends
    assert engine.stats.total_events == n_events
    assert engine.stats.sink.records_sent == n_events
    assert engine.stats.sink.requests == len(per_file)
    assert engine.stats.max_emitted_ts is not None


def test_partitioned_batch_is_single_computation(spark, sf_dir, tmp_path):
    """Once the anchor exists, the emit path must run exactly ONE job per
    micro-batch — the emit action itself; the watermark rides back in the
    kernel's per-partition stats rows, merged on the driver. The first-ever
    batch persists its (payload, ts) frame and adds one min-only aggregate
    over it to establish the anchor; the emit then reads the cached frame
    (and nothing else: hash repartition has no range-sampling pass). More
    jobs means the shuffle pipeline is being computed twice (the round-1
    count()-then-emit bug ran 5; the round-3 min/max agg ran the bounds
    scan every batch)."""
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink
    out_dir = tmp_path / "sink"
    cfg = ReplayConfig(speedup_factor=1e12, sender_threads=4,
                       max_records_per_request=100)
    engine = ReplayEngine(cfg, lambda: FileSink(str(out_dir)),
                          mode="partitioned")
    # filter, not limit: CollectLimit executes incrementally (extra jobs)
    batch = (load(spark, sf_dir, "events")
             .filter(F.col("event_id") % 3 == 0)
             .select(F.col("props").alias("payload"), "ts"))
    expected_n = batch.count()
    sc = spark.sparkContext
    # AQE runs each query stage as its own job, which makes raw job counts
    # depend on plan internals; without it the mapping is deterministic.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("replay-first-batch", "anchor + emit")
        engine.process_batch(batch, 0)
        sc.setJobGroup("replay-steady-batch", "emit only")
        engine.process_batch(batch, 1)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    first = sc.statusTracker().getJobIdsForGroup("replay-first-batch")
    steady = sc.statusTracker().getJobIdsForGroup("replay-steady-batch")
    assert len(first) == 2, \
        f"expected 2 jobs on the anchoring batch (min agg + emit), got {len(first)}"
    assert len(steady) == 1, \
        f"expected 1 job on an anchored batch (emit only), got {len(steady)}"
    assert engine.stats.total_events == 2 * expected_n
    assert engine.stats.sink.records_sent == 2 * expected_n

    # with an explicit anchor (the 100 TB path: the seek position is
    # known), even the first batch is a single job
    out2 = tmp_path / "sink2"
    anchored = ReplayEngine(
        ReplayConfig(speedup_factor=1e12, sender_threads=4,
                     max_records_per_request=100,
                     anchor_ts="2020-01-01T00:00:00"),
        lambda: FileSink(str(out2)), mode="partitioned")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("replay-anchored-first", "emit only")
        anchored.process_batch(batch, 0)
    finally:
        sc.setJobGroup(None, None)
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    jobs = sc.statusTracker().getJobIdsForGroup("replay-anchored-first")
    assert len(jobs) == 1, \
        f"expected 1 job with cfg.anchor_ts set, got {len(jobs)}"
    assert anchored.stats.total_events == expected_n


# the failed-emit case below makes PySpark warn that Arrow toPandas met
# a worker error; that error is the point of the case
@pytest.mark.filterwarnings("ignore:toPandas attempted Arrow optimization")
def test_anchoring_batch_computes_its_source_once(spark, tmp_path):
    """The anchoring batch needs min(ts) before any pacing target exists.
    Finding it must not re-run the batch's source: every input partition
    of the first batch — here a mapInPandas stage standing in for the
    sniffed decode — is computed exactly once across the anchor aggregate
    and the emit, and the cache is released afterwards."""
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink

    journal = tmp_path / "journal"
    journal.mkdir()
    journal_dir = str(journal)

    def _decode(batches):
        import uuid

        import pandas as pd
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        open(os.path.join(journal_dir, f"{pid}-{uuid.uuid4().hex}"),
             "w").close()
        for pdf in batches:
            yield pdf.assign(payload=pdf["id"].astype(str),
                             ts=pd.Timestamp("2020-01-01")
                             + pd.to_timedelta(pdf["id"], unit="s"))[
                ["payload", "ts"]]

    parts = 3
    batch = spark.range(0, 300, numPartitions=parts).mapInPandas(
        _decode, "payload string, ts timestamp")
    engine = ReplayEngine(
        ReplayConfig(speedup_factor=1e12, sender_threads=4,
                     max_records_per_request=100),
        lambda: FileSink(str(tmp_path / "sink")), mode="partitioned")
    jsc = spark.sparkContext._jsc.sc()
    persisted = jsc.getPersistentRDDs().size()
    engine.process_batch(batch, 0)

    computed = collections.Counter(
        name.split("-")[0] for name in os.listdir(journal_dir))
    assert computed == {str(p): 1 for p in range(parts)}, computed
    assert engine.stats.total_events == 300
    assert engine.stats.sink.records_sent == 300
    assert jsc.getPersistentRDDs().size() <= persisted

    # the cache is released on an empty first batch and on a failed emit
    empty = ReplayEngine(engine.cfg, engine.sink, mode="partitioned")
    empty.process_batch(batch.limit(0), 0)
    assert empty.stats.total_events == 0
    assert jsc.getPersistentRDDs().size() <= persisted

    def _broken_sink():
        raise RuntimeError("sink unavailable")
    failing = ReplayEngine(engine.cfg, _broken_sink, mode="partitioned")
    with pytest.raises(Exception, match="sink unavailable"):
        failing.process_batch(batch, 0)
    assert jsc.getPersistentRDDs().size() <= persisted


def test_partitioned_mode_reports_lag(spark, sf_dir, tmp_path):
    """OP-AGG-LAG on the scale path: each sender measures how late its
    requests are handed to the sink and the driver keeps the max. At
    speedup 1e12 every record is due at the anchor instant, so any real
    emit is late by at least the task launch."""
    from amazon_kinesis_replay_spark.streaming.sinks import FileSink
    batch = (load(spark, sf_dir, "events")
             .select(F.col("props").alias("payload"), "ts"))
    engine = ReplayEngine(
        ReplayConfig(speedup_factor=1e12, sender_threads=4,
                     max_records_per_request=100),
        lambda: FileSink(str(tmp_path / "sink")), mode="partitioned")
    engine.process_batch(batch, 0)
    assert engine.stats.max_lag_s > 0


def test_stats_windows(spark, stream_fixture, tmp_path):
    path, n_events, span_s = stream_fixture
    cfg = ReplayConfig(source_path=path, speedup_factor=span_s / 0.2,
                       statistics_frequency_ms=100)
    sink = InMemorySink()
    engine = ReplayEngine(cfg, sink, mode="driver")
    events = ndjson.read_events_stream(spark, cfg, max_files_per_trigger=4)
    q = run_replay_stream(events, engine, str(tmp_path / "ckpt3"))
    q.awaitTermination(120)
    # tumbling processing-time windows recorded (OP-AGG-WINDOWCOUNT):
    # counts conserve events modulo the still-open last window
    recorded = sum(n for _, n, _ in engine.stats.window_counts)
    assert recorded <= engine.stats.total_events == n_events


def test_reorder_buffer_repairs_cross_batch_disorder(spark, sf_dir):
    """r8: the reference holds a 100k-event priority queue that repairs
    input disorder ACROSS reads (JsonEventBufferedReader.java:39) — the
    engine's per-batch sort cannot see disorder that straddles a
    micro-batch boundary. With reorder_across_batches on, an event
    arriving one batch late but within `reader_buffer_size` positions is
    emitted in global ts order; with it off, it is emitted late (the
    documented deviation). Nothing is ever dropped either way."""
    events = (load(spark, sf_dir, "events")
              .select(F.col("props").alias("payload"), "ts")
              .orderBy("ts").limit(300))
    rows = events.collect()
    # split into 3 "micro-batches" with disorder across the boundary:
    # each batch leaks its 10 EARLIEST events into the NEXT batch
    b = [rows[0:100], rows[100:200], rows[200:300]]
    leak0, b[0] = b[0][:10], b[0][10:]
    leak1, b[1] = b[1][:10], b[1][10:] + leak0
    b[2] = b[2] + leak1

    def run(reorder: bool):
        # a leaked event is seen ~100 positions late (a full batch), so
        # the window must exceed that — mirroring the reference's rule
        # that the queue must cover the input's maximum disorder
        cfg = ReplayConfig(speedup_factor=1e12, reader_buffer_size=150,
                           reorder_across_batches=reorder)
        sink = InMemorySink()
        engine = ReplayEngine(cfg, sink, mode="driver")
        for i, batch in enumerate(b):
            engine.process_batch(
                spark.createDataFrame(batch, events.schema), i)
        engine.finalize()
        return [r["ts"] for batch in sink.batches for r in batch], engine

    ordered, eng = run(reorder=True)
    assert len(ordered) == 300                      # nothing dropped
    assert ordered == sorted(ordered)               # global order repaired
    assert eng.stats.total_events == 300
    # finalize is idempotent (a second drain emits nothing)
    eng.finalize()
    assert eng.stats.total_events == 300

    late, _ = run(reorder=False)
    assert len(late) == 300                         # still nothing dropped
    assert late != sorted(late)                     # disorder leaks through


def test_reorder_buffer_beyond_window_emits_late_not_dropped(spark,
                                                             sf_dir):
    """Disorder LARGER than the buffer window: the reference emits the
    too-late event as soon as it is next polled (out of order, never
    dropped) — the gate must do the same, not hold it forever."""
    events = (load(spark, sf_dir, "events")
              .select(F.col("props").alias("payload"), "ts")
              .orderBy("ts").limit(120))
    rows = events.collect()
    # the globally-earliest event arrives LAST, 119 positions late —
    # beyond a 20-row buffer
    shifted = rows[1:] + rows[:1]
    cfg = ReplayConfig(speedup_factor=1e12, reader_buffer_size=20,
                       reorder_across_batches=True)
    sink = InMemorySink()
    engine = ReplayEngine(cfg, sink, mode="driver")
    for i in range(0, 120, 40):
        engine.process_batch(
            spark.createDataFrame(shifted[i:i + 40], events.schema), i)
    engine.finalize()
    emitted = [r["ts"] for batch in sink.batches for r in batch]
    assert len(emitted) == 120
    assert min(emitted) == rows[0]["ts"].isoformat()   # late, not lost
    assert emitted != sorted(emitted)   # beyond-window disorder survives


@pytest.mark.slow
@pytest.mark.loadsensitive
def test_partitioned_pacing_fidelity_p99(spark, sf_dir, tmp_path):
    """r8 verdict task 5: QUANTIFY the engine's #1 documented deviation —
    pacing per partition-chunk instead of per event (reference:
    RePlayer.java:136-140 sleeps before every single send). Replays the
    full events fixture in partitioned mode at a speedup that paces the
    whole span into ~5 s and measures per-record |emit_wall - target|
    against the engine's own affine schedule (anchor + offset/speedup):

    - NO record is ever emitted EARLY (the sleep loop runs before the
      sink hand-off) — early emission would be a correctness bug, not a
      granularity artifact.
    - STEADY-STATE lateness (records due >=0.3 s after their sender
      started, excluding the one-time micro-batch launch latency) is
      bounded by the sink-buffer window: with max_records_per_request=25
      at ~50 rec/s/sender the buffer spans ~0.5 s; measured on this
      fixture p50~0.25 s / p99~0.6 s across repeated runs. Pinned at 3x
      / 2x margins for co-tenant noise.

    The one-time launch latency (~0.3-1.3 s warm) is Spark's micro-batch
    scheduling floor — reported in docs/DEVIATIONS.md, not asserted, as
    it is environment- not plan-determined."""
    import datetime as dt
    import glob
    import json as js
    import os
    import time

    from conftest import run_load_sensitive

    events = load(spark, sf_dir, "events").select(
        F.col("props").alias("payload"), "ts")
    row = events.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")) \
        .collect()[0]
    span_s = (row["mx"] - row["mn"]).total_seconds()
    anchor = row["mn"]
    speedup = span_s / 5.0
    rec_dir = str(tmp_path / "pace-rec")
    os.makedirs(rec_dir, exist_ok=True)

    class RecordingSink:
        """Executor-side sink that journals (ts, emit wall clock) to a
        per-instance NDJSON file the driver can aggregate. Identity is
        {pid}-{uuid4}: a worker that frees one partition's sink before
        creating the next can see id() reuse, which merges two senders'
        journals AND their grouping key (the r11 witness-tool bug class
        — same fix, r12 review finding)."""
        def __init__(self):
            import uuid
            self.k = f"{os.getpid()}-{uuid.uuid4().hex}"
            self.f = open(os.path.join(rec_dir, self.k + ".jsonl"), "a")

        def put_records(self, records):
            w = time.time()
            for r in records:
                self.f.write(js.dumps(
                    {"ts": r["ts"], "wall": w, "k": self.k}) + "\n")
            self.f.flush()
            return []

    def body():
        # warm the Python workers so the measured run's launch latency
        # is the steady micro-batch floor, not one-time worker startup;
        # the cleanup also clears any journals a failed attempt left
        warm = ReplayEngine(
            ReplayConfig(speedup_factor=1e12, sender_threads=4),
            RecordingSink, mode="partitioned")
        warm.process_batch(events, 0)
        for fp in glob.glob(rec_dir + "/*.jsonl"):
            os.unlink(fp)

        cfg = ReplayConfig(speedup_factor=speedup, sender_threads=4,
                           max_records_per_request=25,
                           anchor_ts=anchor.isoformat())
        engine = ReplayEngine(cfg, RecordingSink, mode="partitioned")
        t0 = time.time()
        engine.process_batch(events, 0)

        by_sender: dict = {}
        for fp in glob.glob(rec_dir + "/*.jsonl"):
            for line in open(fp):
                d = js.loads(line)
                ts = dt.datetime.fromisoformat(d["ts"])
                off = (ts - anchor).total_seconds() / speedup
                by_sender.setdefault(d["k"], []).append(
                    (off, d["wall"] - t0))
        n_total = sum(len(v) for v in by_sender.values())
        assert n_total == engine.stats.total_events > 0

        all_dev, steady = [], []
        for lst in by_sender.values():
            lst.sort()
            launch = lst[0][1] - lst[0][0]  # first-due record's lateness
            for off, wall_rel in lst:
                dev = wall_rel - off
                all_dev.append(dev)
                if off >= launch + 0.3:
                    steady.append(dev)
        all_dev.sort()
        steady.sort()
        # never early (clock-skew epsilon only)
        assert all_dev[0] >= -0.05, \
            f"record emitted early: {all_dev[0]:.3f}s"
        # warm launch must leave a measurable steady-state population
        assert len(steady) >= n_total // 5, (
            f"launch latency ate the span: {len(steady)}/{n_total} steady")
        p50 = steady[len(steady) // 2]
        p99 = steady[min(len(steady) - 1, int(len(steady) * 0.99))]
        assert p50 <= 0.75, f"steady-state p50 lateness {p50:.3f}s"
        assert p99 <= 1.2, f"steady-state p99 lateness {p99:.3f}s"

    run_load_sensitive(body)


def test_reorder_flag_rejected_in_partitioned_mode_without_state():
    """r8 review finding: silently ignoring reorder_across_batches would
    let a user believe cross-batch disorder is being repaired. Since the
    late-r8 distributed gate, partitioned mode accepts the flag WITH a
    durable state dir and refuses without one."""
    cfg = ReplayConfig(speedup_factor=1e12, reorder_across_batches=True)
    with pytest.raises(ValueError, match="reorder_state_path"):
        ReplayEngine(cfg, lambda: InMemorySink(), mode="partitioned")
    # driver mode accepts it (in-memory buffer, no state dir needed)
    ReplayEngine(cfg, InMemorySink(), mode="driver")
    # partitioned mode accepts it with a state dir
    cfg2 = ReplayConfig(speedup_factor=1e12, reorder_across_batches=True,
                        reorder_state_path="/tmp/x")
    ReplayEngine(cfg2, lambda: InMemorySink(), mode="partitioned")


def test_reorder_distributed_gate_partitioned(spark, sf_dir, tmp_path):
    """late r8: the reorder buffer carried into PARTITIONED mode — held
    state as parquet epochs + applied-batch marker. Pins, against a
    pure-python twin of the ts-cutoff poll-when-full rule:
    per-batch emit multisets, redelivery idempotence (marker skip),
    finalize drain (nothing dropped) and state-dir cleanup."""
    import glob
    import json as js
    import os

    events = (load(spark, sf_dir, "events")
              .select(F.col("props").alias("payload"), "ts")
              .orderBy("ts").limit(300))
    rows = events.collect()
    # same cross-boundary disorder shape as the driver-mode test: each
    # batch leaks its 10 earliest events into the next batch
    b = [rows[0:100], rows[100:200], rows[200:300]]
    leak0, b[0] = b[0][:10], b[0][10:]
    leak1, b[1] = b[1][:10], b[1][10:] + leak0
    b[2] = b[2] + leak1

    BOUND = 150
    rec_dir = str(tmp_path / "reorder-rec")
    os.makedirs(rec_dir, exist_ok=True)

    class JournalSink:
        def __init__(self):
            self.f = open(os.path.join(
                rec_dir, f"{os.getpid()}-{id(self)}.jsonl"), "a")

        def put_records(self, records):
            for r in records:
                self.f.write(js.dumps({"ts": r["ts"]}) + "\n")
            self.f.flush()
            return []

    def emitted():
        out = []
        for fp in glob.glob(rec_dir + "/*.jsonl"):
            out.extend(js.loads(line)["ts"] for line in open(fp))
        return sorted(out)

    # pure-python twin of the gate: cutoff = the BOUND-th largest ts,
    # emit ts < cutoff, hold ts >= cutoff (ties ride the buffer)
    def twin(batches):
        held, per_batch = [], []
        for batch in batches:
            comb = sorted(held + [r["ts"].isoformat() for r in batch])
            if len(comb) < BOUND:
                held, emit = comb, []
            else:
                cutoff = comb[len(comb) - BOUND]
                emit = [t for t in comb if t < cutoff]
                held = [t for t in comb if t >= cutoff]
            per_batch.append(emit)
        return per_batch, held

    want_batches, want_tail = twin(b)
    assert want_batches[0] == [] and want_batches[1], "fixture sanity"

    cfg = ReplayConfig(speedup_factor=1e12, sender_threads=2,
                       reader_buffer_size=BOUND,
                       reorder_across_batches=True,
                       reorder_state_path=str(tmp_path / "reorder-state"))
    engine = ReplayEngine(cfg, JournalSink, mode="partitioned")
    state_root = str(tmp_path / "reorder-state")
    seen: list = []
    for i, batch in enumerate(b):
        if i == 2:
            # orphan epoch from a simulated crashed cleanup: the next
            # batch's sweep must remove every non-current epoch
            os.makedirs(state_root + "/held/epoch=0", exist_ok=True)
            open(state_root + "/held/epoch=0/junk", "w").write("x")
        engine.process_batch(
            spark.createDataFrame(batch, events.schema), i)
        if i == 2:
            held_dirs = [d for d in os.listdir(state_root + "/held")
                         if d.startswith("epoch=")]
            assert held_dirs == ["epoch=2"], held_dirs
        now = emitted()
        # this batch's emissions = difference vs what was seen before
        import collections
        diff = collections.Counter(now) - collections.Counter(seen)
        assert sorted(diff.elements()) == sorted(want_batches[i]), i
        seen = now
    # redelivery of an already-applied batch: marker skips, nothing new
    engine.process_batch(spark.createDataFrame(b[1], events.schema), 1)
    assert emitted() == seen
    # finalize drains the held tail and clears the state dir
    engine.finalize()
    final = emitted()
    assert len(final) == 300                      # nothing dropped
    import collections
    tail = collections.Counter(final) - collections.Counter(seen)
    assert sorted(tail.elements()) == sorted(want_tail)
    assert not os.path.exists(str(tmp_path / "reorder-state"))
    # a second finalize is a no-op
    engine.finalize()
    assert len(emitted()) == 300


@pytest.mark.slow
@pytest.mark.loadsensitive
def test_composed_replay_witness_small(tmp_path):
    """The composed replay-at-scale witness (source → durable reorder
    gate → partitioned paced senders → capped sink with retry) pinned
    at sf0.001 so composition regressions surface in-suite; the
    recorded sf0.1 run lives in docs/ROUND11.md. The tool exits
    nonzero unless the emitted multiset is exact, every sender journal
    is ts-ordered, and every request respects the Kinesis cap.
    Load-sensitive (subprocess pacing under a shared box): retried via
    conftest.run_load_sensitive when the box reads loaded."""
    import json as js
    import subprocess
    import sys

    from conftest import run_load_sensitive

    witness = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "replay_scale_witness.py")

    def body():
        out = subprocess.run(
            [sys.executable, witness, "/root/testdata/sf0.001", "3"],
            capture_output=True, text=True, timeout=420)
        assert out.returncode == 0, out.stdout[-2000:] + out.stderr[-2000:]
        line = [ln for ln in out.stdout.splitlines()
                if ln.startswith("{")][-1]
        s = js.loads(line)
        assert s["emitted"] == s["rows"] == 1000
        assert s["multiset_exact"] and s["per_sender_ordered"]
        assert s["request_cap_ok"] and s["retried_records"] > 0
        assert s["batches"] == 3

    # a loaded box can also push the subprocess past its timeout
    run_load_sensitive(
        body, retry_on=(AssertionError, subprocess.TimeoutExpired))


def test_iso_strings_matches_isoformat_elementwise():
    """The r13 vectorized emit-timestamp formatter must reproduce
    Timestamp.isoformat() exactly at every precision tier the variable
    -precision contract has: bare seconds, milli/micro fractions,
    nanosecond remainders, and pre-epoch values."""
    import pandas as pd

    from amazon_kinesis_replay_spark.streaming.replay import _iso_strings

    ts = pd.Series(pd.to_datetime([
        "2024-01-01 00:00:00",
        "2024-01-01 00:00:00.500000",
        "2024-01-01 00:00:00.000001",
        "2024-01-01 00:00:00.123456789",
        "1969-12-31 23:59:59.500000",
        "1969-12-31 23:59:59",
        "2038-01-19 03:14:07.999999",
    ], format="mixed"))
    got = list(_iso_strings(ts))
    want = [t.isoformat() for t in ts]
    assert got == want
