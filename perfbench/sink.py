"""The benchmark's sink and the checks over what it received.

`SinkFactory` is the zero-argument factory partitioned replay calls once per
sender task on a Python worker. Each sink appends one line per
`put_records` call to its own file in a run directory:

    start accept count first_ts last_ts checksum sorted retry

`accept` is the wall time the request is taken; `checksum` sums
`corpus.payload_hash` over the accepted records; `sorted` says the request's
records were in event-time order; `retry` marks a call that carries a record
this sink refused before. The accepted records' `trip_id`s and event
times go to a binary side file, so the checker can count each event's
deliveries and lateness can be taken per record. The driver merges the
files (`read_requests`), checks them against the corpus manifest (`check`)
and derives pacing lateness (`lateness_ms`, `record_lateness_ms`).

With `throttle` set, each sink refuses the first record it is offered, on
that record's first attempt only. A sink serves one sender for one
micro-batch, so every sender pays one retry backoff per micro-batch: the
number of retried records is fixed by the batch layout, and the backoffs
do not pile onto one sender as records refused by content can.
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np

from perfbench.corpus import payload_hash

LATE_MS = 100.0           # latency limit of one request
_COLS = ("start", "accept", "count", "first_ts", "last_ts", "checksum",
         "sorted", "retry")


class BenchSink:
    def __init__(self, run_dir: str, throttle: bool = False):
        self.path = os.path.join(run_dir,
                                 f"{os.getpid()}-{uuid.uuid4().hex}.log")
        self.throttle = throttle
        self.refused: set = set()
        self.fh = self.ids_fh = None

    def put_records(self, records: list[dict]) -> list[int]:
        start = time.time()
        failed, ids, ts, checksum, retry = [], [], [], 0, False
        for i, rec in enumerate(records):
            b = rec["payload"].encode()
            trip_id = int(b[11:b.index(b",", 11)])     # {"trip_id":N,...
            if trip_id in self.refused:
                retry = True
            elif self.throttle:
                self.throttle = False
                self.refused.add(trip_id)
                failed.append(i)
                continue
            checksum += payload_hash(b)
            ids.append(trip_id)
            ts.append(rec["ts"])
        if ts:
            if self.fh is None:
                self.fh = open(self.path, "a")
                self.ids_fh = open(self.path[:-4] + ".ids", "ab")
            rec_ts = np.array(ts, dtype="datetime64[ns]").astype(np.int64)
            self.ids_fh.write(np.stack([np.array(ids, dtype=np.int64),
                                        rec_ts], axis=1).tobytes())
            self.ids_fh.flush()
            in_order = all(a <= b for a, b in zip(ts, ts[1:]))
            self.fh.write(f"{start!r} {time.time()!r} {len(ts)} {ts[0]} "
                          f"{ts[-1]} {checksum % (1 << 64)} {int(in_order)} "
                          f"{int(retry)}\n")
            self.fh.flush()
        return failed


class SinkFactory:
    """Picklable zero-argument factory for `BenchSink`."""

    def __init__(self, run_dir: str, throttle: bool = False):
        self.run_dir = run_dir
        self.throttle = throttle

    def __call__(self) -> BenchSink:
        return BenchSink(self.run_dir, self.throttle)


def read_requests(run_dir: str) -> dict:
    """Merge every sink file of a run into column arrays, plus `sender`
    (one id per sink instance), `ids` and `rec_ts` (trip id and event time
    in epoch seconds of every delivered record, in request order) and the
    `*_ts` columns as epoch seconds."""
    rows, senders, ids = [], [], []
    logs = sorted(n for n in os.listdir(run_dir) if n.endswith(".log"))
    for k, name in enumerate(logs):
        with open(os.path.join(run_dir, name)) as fh:
            for line in fh:
                rows.append(line.split())
                senders.append(k)
        ids.append(np.fromfile(os.path.join(run_dir, name[:-4] + ".ids"),
                               dtype=np.int64).reshape(-1, 2))
    cols = list(zip(*rows)) if rows else [()] * len(_COLS)
    pairs = np.concatenate(ids) if ids else np.zeros((0, 2), np.int64)
    out = {"sender": np.array(senders, dtype=np.int64), "ids": pairs[:, 0],
           "rec_ts": pairs[:, 1] / 1e9}
    for name, vals in zip(_COLS, cols):
        if name in ("first_ts", "last_ts"):
            ts = np.array([v.rstrip("Z") for v in vals],
                          dtype="datetime64[ns]")
            out[name] = ts.astype(np.int64) / 1e9
        elif name == "checksum":
            out[name] = [int(v) for v in vals]
        elif name in ("start", "accept"):
            out[name] = np.array(vals, dtype=np.float64)
        else:
            out[name] = np.array(vals, dtype=np.int64)
    return out


def check(req: dict, manifest: dict) -> tuple[list[str], int]:
    """Problems with a run's deliveries, and the number of valid events
    not delivered exactly once (plus deliveries of invalid ones). Checks:
    every valid trip id exactly once, count and payload checksum against
    the manifest, and event time never going backwards within a sender
    (a retried record arrives late by design, so retries are exempt)."""
    problems = []
    ids = req["ids"]
    n_ids = manifest["n_ids"]
    valid = np.arange(n_ids) % manifest["malformed_every"] \
        != manifest["malformed_every"] // 2
    seen = np.bincount(ids[(ids >= 0) & (ids < n_ids)], minlength=n_ids)
    failed = int((seen[valid] != 1).sum()) + int(seen[~valid].sum()) \
        + int(((ids < 0) | (ids >= n_ids)).sum())
    if failed:
        problems.append(f"{failed} events not delivered exactly once")
    n = int(req["count"].sum())
    if n != manifest["n_valid"]:
        problems.append(f"delivered {n} records, expected "
                        f"{manifest['n_valid']}")
    if sum(req["checksum"]) % (1 << 64) != manifest["checksum"]:
        problems.append("payload checksum differs from the corpus")
    if not req["sorted"].all():
        problems.append("records out of event-time order within a request")
    first = req["retry"] == 0
    order = np.lexsort((req["start"][first], req["sender"][first]))
    sender = req["sender"][first][order]
    lo, hi = req["first_ts"][first][order], req["last_ts"][first][order]
    back = (sender[1:] == sender[:-1]) & (lo[1:] < hi[:-1])
    if back.any():
        problems.append(f"event time went backwards {int(back.sum())} "
                        "time(s) within a sender")
    return problems, failed


def lateness_ms(req: dict, first_ts_s: float, speedup: float) -> np.ndarray:
    """Per request: accept time minus the due time of its last record,
    where due = start + (ts - first_ts) / speedup and the zero is the
    best-timed request (the replay's start delay is not lateness)."""
    if len(req["accept"]) == 0:
        return np.zeros(0)
    slack = req["accept"] - (req["last_ts"] - first_ts_s) / speedup
    return (slack - slack.min()) * 1000.0


def record_lateness_ms(req: dict, first_ts_s: float,
                       speedup: float) -> np.ndarray:
    """Per record: its request's accept time minus its own due time, the
    zero being the best-timed record. Includes the wait for the request
    to fill, which a consumer of the stream also sees."""
    if len(req["accept"]) == 0:
        return np.zeros(0)
    accept = np.repeat(req["accept"], req["count"])
    slack = accept - (req["rec_ts"] - first_ts_s) / speedup
    return (slack - slack.min()) * 1000.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    v = np.sort(np.asarray(values, dtype=np.float64))
    rank = max(1, int(np.ceil(q / 100.0 * len(v))))
    return float(v[rank - 1])
