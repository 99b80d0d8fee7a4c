"""Tests of the benchmark itself (no Spark): the seeded generator, the
lateness and percentile math, the sink's throttle and the delivery checker.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import gzip
import json
import os

import numpy as np
import pytest

from perfbench import corpus, sink


def _files(root: str) -> dict:
    out = {}
    for name in sorted(os.listdir(root)):
        with open(os.path.join(root, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("codec", ["lz4", "gzip"])
def test_generator_same_seed_same_bytes(tmp_path, codec):
    kw = {"n_objects": 2, "events_per_object": 300, "codec": codec}
    a = corpus.write_taxi_corpus(str(tmp_path / "a"), 7, **kw)
    b = corpus.write_taxi_corpus(str(tmp_path / "b"), 7, **kw)
    c = corpus.write_taxi_corpus(str(tmp_path / "c"), 8, **kw)
    fa, fb, fc = (_files(str(tmp_path / d)) for d in "abc")
    assert fa == fb
    assert (a["checksum"], a["n_valid"]) == (b["checksum"], b["n_valid"])
    assert fa.keys() == fc.keys()
    assert all(fa[k] != fc[k] for k in fa)
    assert a["checksum"] != c["checksum"]


def test_generator_marks_malformed_and_decoy(tmp_path):
    m = corpus.write_taxi_corpus(str(tmp_path), 1, n_objects=2,
                                 events_per_object=1000, codec="gzip")
    lines = []
    for p in m["paths"]:
        with gzip.open(p, "rt") as fh:
            lines += fh.read().splitlines()
    bad = [ln for ln in lines if "not-a-timestamp" in ln]
    assert len(bad) == 2 and m["n_valid"] == 1998
    ts = [json.loads(ln)["dropoff_datetime"] for ln in lines
          if ln not in bad]
    assert ts == sorted(ts)                       # event-time order
    assert os.path.exists(os.path.join(str(tmp_path), "README.md"))
    mtimes = [os.path.getmtime(p) for p in m["paths"]]
    assert mtimes == sorted(mtimes)               # oldest first = earliest


def _req(accept, last_ts, first_ts=None, count=None):
    n = len(accept)
    return {"accept": np.array(accept, dtype=float),
            "last_ts": np.array(last_ts, dtype=float),
            "first_ts": np.array(first_ts or last_ts, dtype=float),
            "count": np.array(count or [1] * n),
            "rec_ts": np.array(last_ts, dtype=float)}


def test_lateness_zero_is_best_timed_request():
    # speedup 10: event time 0, 10, 20 s are due 0, 1, 2 s after start
    req = _req(accept=[100.5, 101.5, 103.0], last_ts=[0.0, 10.0, 20.0])
    late = sink.lateness_ms(req, first_ts_s=0.0, speedup=10.0)
    assert np.allclose(late, [0.0, 0.0, 500.0])
    assert np.allclose(sink.record_lateness_ms(req, 0.0, 10.0), late)


def test_record_lateness_repeats_request_accept():
    req = _req(accept=[10.0, 12.0], last_ts=[1.0, 3.0], count=[2, 1])
    req["rec_ts"] = np.array([0.0, 1.0, 3.0])
    late = sink.record_lateness_ms(req, first_ts_s=0.0, speedup=1.0)
    # slacks: 10-0, 10-1, 12-3 -> minus the best (9)
    assert np.allclose(late, [1000.0, 0.0, 0.0])


def test_percentile_nearest_rank():
    v = list(range(1, 101))
    assert sink.percentile(v, 99) == 99.0
    assert sink.percentile(v, 50) == 50.0
    assert sink.percentile([5.0], 99) == 5.0
    assert sink.percentile(v, 100) == 100.0


def _records(seed=3, n_objects=2, per=600):
    lines, _, valid = corpus._lines(np.random.default_rng(seed), 0,
                                     n_objects * per, corpus.ORIGIN_MS, 200.0)
    recs = [{"payload": ln, "ts": json.loads(ln)["dropoff_datetime"][:-1]}
            for ln, ok in zip(lines, valid) if ok]
    manifest = {"n_valid": len(recs), "n_ids": n_objects * per,
                "malformed_every": corpus.MALFORMED_EVERY,
                "checksum": sum(corpus.payload_hash(r["payload"].encode())
                                for r in recs) % (1 << 64)}
    return recs, manifest


def _send(run_dir, recs, throttle=False, senders=2, size=100):
    """Deliver recs like partitioned replay: each sender a ts-ordered
    slice, sent in requests with the engine's failed-subset retry."""
    refused = []
    for k in range(senders):
        s = sink.BenchSink(str(run_dir), throttle)
        mine = recs[k::senders]
        for i in range(0, len(mine), size):
            pending = mine[i:i + size]
            while pending:
                failed = s.put_records(pending)
                refused += [pending[j] for j in failed]
                pending = [pending[j] for j in failed]
    return refused


def test_throttle_refuses_same_records_every_run(tmp_path):
    recs, manifest = _records()
    (tmp_path / "1").mkdir()
    (tmp_path / "2").mkdir()
    r1 = _send(tmp_path / "1", recs, throttle=True)
    r2 = _send(tmp_path / "2", recs, throttle=True)
    assert r1 == r2 == [recs[0], recs[1]]      # each sender's first record
    req = sink.read_requests(str(tmp_path / "1"))
    problems, failed = sink.check(req, manifest)
    assert problems == [] and failed == 0      # retries deliver once
    assert req["count"][req["retry"] == 1].sum() == len(r1)


@pytest.fixture
def run_dir(tmp_path):
    d = tmp_path / "run"
    d.mkdir()
    return d


def test_checker_accepts_exact_delivery(run_dir):
    recs, manifest = _records()
    _send(run_dir, recs)
    assert sink.check(sink.read_requests(str(run_dir)), manifest) == ([], 0)


def test_checker_catches_dropped_record(run_dir):
    recs, manifest = _records()
    _send(run_dir, recs[:10] + recs[11:])
    problems, failed = sink.check(sink.read_requests(str(run_dir)), manifest)
    assert failed == 1 and any("exactly once" in p for p in problems)


def test_checker_catches_duplicated_record(run_dir):
    recs, manifest = _records()
    _send(run_dir, recs[:11] + recs[10:])
    problems, failed = sink.check(sink.read_requests(str(run_dir)), manifest)
    assert failed == 1 and any("exactly once" in p for p in problems)


def test_checker_catches_out_of_order_record(run_dir):
    recs, manifest = _records()
    late = recs[:]
    late.insert(700, late.pop(5))         # one record sent far too late
    _send(run_dir, late)
    problems, failed = sink.check(sink.read_requests(str(run_dir)), manifest)
    assert failed == 0
    assert any("backwards" in p or "order" in p for p in problems)


def test_checker_catches_time_going_back_between_requests(run_dir):
    recs, manifest = _records()
    s = sink.BenchSink(str(run_dir))
    s.put_records(recs[100:])        # each request sorted on its own...
    s.put_records(recs[:100])        # ...but the sender went backwards
    problems, failed = sink.check(sink.read_requests(str(run_dir)), manifest)
    assert failed == 0
    assert problems == ["event time went backwards 1 time(s) within a "
                        "sender"]


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "run": "t"}


def test_layer_self_times_add_up_to_the_pass():
    from perfbench import traced
    put = traced.SINK_SPAN
    spans = [_span("replay_pass", 0.0, 10.0, None),
             _span("sources.ndjson.read_events_stream", 0.0, 1.0, 0),
             _span("streaming.replay.run_replay_stream", 1.0, 10.0, 0),
             _span("streaming.replay.process_batch", 2.0, 6.0, 2),
             _span(put, 2.5, 4.0, 3), _span(put, 3.0, 5.0, 3),  # 2 senders
             _span(put, 7.0, 7.5, 2)]        # outside every foreachBatch
    out = traced.layer_self_times(spans, traced.REPLAY_LAYERS,
                                  lambda s: True)
    assert out == pytest.approx({"self.read_s": 1.0, "self.stream_s": 4.5,
                                 "self.process_batch_s": 1.5,
                                 "self.sink_s": 3.0})
    assert sum(out.values()) == pytest.approx(10.0)


def test_reconcile_fails_on_gap_or_unaccounted_time():
    from perfbench import traced
    rec, problems = traced.reconcile(10.0, 10.0, 9.5)
    assert problems == []
    assert rec["tracing_overhead_s"] == pytest.approx(0.5)
    assert rec["reconcile_gap_pct"] == pytest.approx(100 * 0.5 / 9.5)
    _, problems = traced.reconcile(10.0, 10.0, 7.5)     # 33% off untraced
    assert len(problems) == 1 and "untraced" in problems[0]
    _, problems = traced.reconcile(9.0, 10.0, 9.5)      # 1 s in no layer
    assert len(problems) == 1 and "traced pass took" in problems[0]
