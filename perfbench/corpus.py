"""Seeded inputs for the replay benchmark.

`write_taxi_corpus` writes taxi-trip-shaped, minified NDJSON objects ordered
by `dropoff_datetime` (the reference's default timestamp attribute), either
as standard lz4 frames (pyarrow) or gzip (stdlib). The engine's own
`lz4frame.frame_compress` is deliberately not used, so the engine is never
both the writer and the reader of its input.

Each corpus also holds a `README.md` decoy object (valid-looking events the
reader's suffix skip must drop) and ~0.1% lines whose timestamp cannot be
parsed (the reader's malformed-row drop). Neither counts as a valid event.

`load_or_write_tables` writes the ten parquet tables the headline queries
read, in the shapes and value distributions of the repository's fixture
tables (see TESTDATA.md and FIXTURES.md; `compare_inputs.py` measures
both).
"""

from __future__ import annotations

import gzip
import json
import os
import zlib

import numpy as np

#: event-time origin of every generated corpus (ms since the epoch)
ORIGIN_MS = 1_514_764_800_000           # 2018-01-01T00:00:00Z
#: objects get mtimes ORIGIN_S + i, so the file-stream source (oldest
#: modified first) takes them in event-time order regardless of write speed
MTIME_ORIGIN_S = 1_600_000_000
MALFORMED_EVERY = 1000                  # ~0.1% of lines


def payload_hash(payload: bytes) -> int:
    """64-bit per-record hash; sums of it are order-insensitive checksums."""
    return (zlib.crc32(payload) << 32) | zlib.adler32(payload)


def _iso_ms(ms: np.ndarray) -> np.ndarray:
    return np.char.add(np.datetime_as_string(ms.astype("datetime64[ms]"),
                                             unit="ms"), "Z")


def _lines(rng: np.random.Generator, first_id: int, n: int,
           start_ms: int, mean_gap_ms: float):
    """n trip lines starting at event time start_ms; returns (lines,
    last_ms, valid mask)."""
    gaps = rng.exponential(mean_gap_ms, n).round().astype(np.int64)
    drop_ms = start_ms + np.cumsum(gaps)
    dur_ms = rng.integers(120_000, 2_400_000, n)
    pick = _iso_ms(drop_ms - dur_ms)
    drop = _iso_ms(drop_ms)
    ids = np.arange(first_id, first_id + n)
    valid = (ids % MALFORMED_EVERY) != (MALFORMED_EVERY // 2)
    drop = np.where(valid, drop, "not-a-timestamp")
    pax = rng.integers(1, 7, n)
    dist = rng.gamma(2.0, 1.6, n).round(2)
    plon = (-73.99 + rng.normal(0, 0.04, n)).round(6)
    plat = (40.75 + rng.normal(0, 0.03, n)).round(6)
    dlon = (plon + rng.normal(0, 0.03, n)).round(6)
    dlat = (plat + rng.normal(0, 0.03, n)).round(6)
    fare = (2.5 + dist * 2.5).round(2)
    tip = (fare * rng.uniform(0, 0.3, n)).round(2)
    vendor = rng.integers(1, 3, n)
    pay = rng.integers(1, 5, n)
    lines = [
        f'{{"trip_id":{i},"vendor_id":{v},"pickup_datetime":"{p}",'
        f'"dropoff_datetime":"{d}","passenger_count":{x},'
        f'"trip_distance":{td},"pickup_longitude":{a},'
        f'"pickup_latitude":{b},"dropoff_longitude":{c},'
        f'"dropoff_latitude":{e},"rate_code_id":1,'
        f'"store_and_fwd_flag":"N","payment_type":{pt},'
        f'"fare_amount":{f},"extra":0.5,"mta_tax":0.5,"tip_amount":{t},'
        f'"tolls_amount":0.0,"total_amount":{round(f + t + 1.0, 2)},'
        f'"type":"trip"}}'
        for i, v, p, d, x, td, a, b, c, e, pt, f, t in zip(
            ids.tolist(), vendor.tolist(), pick.tolist(), drop.tolist(),
            pax.tolist(), dist.tolist(), plon.tolist(), plat.tolist(),
            dlon.tolist(), dlat.tolist(), pay.tolist(), fare.tolist(),
            tip.tolist())]
    return lines, int(drop_ms[-1]), valid


def _compress(data: bytes, codec: str) -> bytes:
    if codec == "lz4":
        import pyarrow as pa
        return pa.compress(data, codec="lz4", asbytes=True)
    if codec == "gzip":
        return gzip.compress(data, compresslevel=1, mtime=0)
    raise ValueError(f"unknown codec {codec!r}")


def write_taxi_corpus(out_dir: str, seed: int, n_objects: int,
                      events_per_object: int, codec: str,
                      mean_gap_ms: float = 200.0) -> dict:
    """Write the corpus into out_dir (created) and return its manifest:
    valid event count, their summed `payload_hash` (mod 2**64), the trip-id
    range and malformed-line rule, the event-time origin and the object
    paths in event-time order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    ext = {"lz4": ".json.lz4", "gzip": ".json.gz"}[codec]
    start_ms = ORIGIN_MS
    n_valid, checksum, paths = 0, 0, []
    for k in range(n_objects):
        lines, start_ms, valid = _lines(rng, k * events_per_object,
                                        events_per_object, start_ms,
                                        mean_gap_ms)
        for line, ok in zip(lines, valid.tolist()):
            if ok:
                checksum += payload_hash(line.encode())
        n_valid += int(valid.sum())
        path = os.path.join(out_dir, f"trips-{k:04d}{ext}")
        with open(path, "wb") as fh:
            fh.write(_compress(("\n".join(lines) + "\n").encode(), codec))
        os.utime(path, (MTIME_ORIGIN_S + k, MTIME_ORIGIN_S + k))
        paths.append(path)
    # the decoy: parseable events the suffix skip must keep out
    decoy, _, _ = _lines(rng, n_objects * events_per_object, 50, start_ms,
                         mean_gap_ms)
    readme = os.path.join(out_dir, "README.md")
    with open(readme, "w") as fh:
        fh.write("\n".join(decoy) + "\n")
    os.utime(readme, (MTIME_ORIGIN_S - 1, MTIME_ORIGIN_S - 1))
    return {"n_valid": n_valid, "checksum": checksum % (1 << 64),
            "n_ids": n_objects * events_per_object,
            "malformed_every": MALFORMED_EVERY, "first_ms": ORIGIN_MS,
            "paths": paths}


def prune(cache_root: str, keep: int = 12) -> None:
    """Drop all but the `keep` most recently used cache entries."""
    if not os.path.isdir(cache_root):
        return
    import shutil
    entries = sorted((os.path.getmtime(os.path.join(cache_root, e)), e)
                     for e in os.listdir(cache_root))
    for _, e in entries[:-keep]:
        shutil.rmtree(os.path.join(cache_root, e), ignore_errors=True)


def load_or_write_corpus(cache_root: str, seed: int, **kw) -> tuple[str, dict]:
    """Corpus directory + manifest for (seed, kw), generated once per key.
    The manifest is written last, so an interrupted generation is redone."""
    key = "-".join(f"{k}{kw[k]}" for k in sorted(kw))
    root = os.path.join(cache_root, f"taxi-{seed}-{key}")
    data = os.path.join(root, "data")
    manifest = os.path.join(root, "manifest.json")
    if os.path.exists(manifest):
        os.utime(root)                  # recently used, for `prune`
        with open(manifest) as fh:
            return data, json.load(fh)
    import shutil
    shutil.rmtree(root, ignore_errors=True)
    meta = write_taxi_corpus(data, seed, **kw)
    with open(manifest, "w") as fh:
        json.dump(meta, fh)
    return data, meta


# ---------------------------------------------------------------------------
# Headline-query tables
# ---------------------------------------------------------------------------

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()


def _table_frames(seed: int, scale: float) -> dict:
    import pandas as pd
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), \
        int(200_000 * scale)
    n_ord, n_ev, n_doc = int(1_500_000 * scale), int(1_000_000 * scale), \
        max(500, int(50_000 * scale))
    day = np.timedelta64(1, "D")
    t = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": rng.uniform(-999.99, 9999.99, n_cust).round(2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": rng.uniform(-999.99, 9999.99, n_supp).round(2)})
    adj = np.array(["small", "large", "blue", "red", "green", "shiny",
                    "plain", "tiny"])
    noun = np.array(["ring", "anvil", "widget", "gear", "bolt", "spring",
                     "valve", "lever"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)],
                                          " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": (900 + (np.arange(n_part) % 1000) / 10).round(2)})
    odate = (np.datetime64("1995-01-01")
             + rng.integers(0, 2404, n_ord) * day).astype("datetime64[us]")
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.uniform(1000, 500_000, n_ord).round(2),
        "o_orderdate": odate,
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
             "5-LOW"])[rng.integers(0, 5, n_ord)]})
    per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(okey)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": (qty * rng.uniform(900, 2100, n_li)).round(2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": np.repeat(odate, per)
        + rng.integers(1, 122, n_li) * day})
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us")
        + ev_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, int(15_000 * scale), n_ev).astype(
            np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": rng.uniform(0.01, 490.0, n_ev).round(2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words),
                                         rng.integers(10, 100))])
             for _ in range(n_doc)]
    # 5% near-duplicates: another document's text plus one token
    for i in rng.choice(n_doc, n_doc // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], n_doc,
                           p=[0.14, 0.44, 0.14, 0.14, 0.14]),
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # unit vectors with no label structure, as in the fixtures
    vec = rng.normal(0, 1, (n_doc, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": list(vec),
        "label": rng.integers(0, 10, n_doc).astype(np.int32)})
    return t


def load_or_write_tables(cache_root: str, seed: int, scale: float) -> str:
    """Directory of the ten parquet tables for (seed, scale)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    root = os.path.join(cache_root, f"tables-{seed}-{scale}")
    done = os.path.join(root, "_DONE")
    if os.path.exists(done):
        os.utime(root)
        return root
    os.makedirs(root, exist_ok=True)
    for name, pdf in _table_frames(seed, scale).items():
        schema = None
        if name == "embeddings":
            schema = pa.schema([("vec_id", pa.int64()),
                                ("embedding", pa.list_(pa.float32())),
                                ("label", pa.int32())])
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                            preserve_index=False),
                       os.path.join(root, f"{name}.parquet"))
    open(done, "w").close()
    return root
