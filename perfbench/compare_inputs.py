#!/usr/bin/env python3
"""Compare the benchmark's seeded query tables with a directory of fixture
tables of the same schema: key statistics side by side and, with
--queries, each measured headline entry's output rows and cold latency on
both.

    python3 perfbench/compare_inputs.py --fixtures DIR [--scale 0.01]
        [--seed 1] [--queries]

Run it from the repository root. The fixture directory holds the ten
parquet tables the headline queries read (`<table>.parquet`); give the
scale they were generated at, so row counts are comparable.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def table_stats(d: str) -> dict:
    """Statistics the measured entries are sensitive to, per table."""
    import pyarrow.parquet as pq

    def read(name):
        return pq.read_table(os.path.join(d, f"{name}.parquet")).to_pandas()
    out = {}
    for t in ("customer", "supplier", "part", "orders", "lineitem"):
        out[f"{t}.rows"] = len(read(t))
    li = read("lineitem")
    out["lineitem.lines_per_order"] = li.groupby("l_orderkey").size().mean()
    out["lineitem.distinct_partkey"] = li.l_partkey.nunique()
    out["lineitem.discount_mean"] = li.l_discount.mean()
    orders = read("orders")
    out["orders.date_span_days"] = (orders.o_orderdate.max()
                                    - orders.o_orderdate.min()).days
    ev = read("events")
    out["events.rows"] = len(ev)
    out["events.distinct_user_id"] = ev.user_id.nunique()
    out["events.event_types"] = ev.event_type.nunique()
    out["events.distinct_props"] = ev.props.nunique()
    out["events.ts_span_days"] = (ev.ts.max() - ev.ts.min()).days
    docs = read("documents")
    toks = [t.split() for t in docs.text]
    lens = np.array([len(t) for t in toks])
    out["documents.rows"] = len(docs)
    out["documents.vocabulary"] = len({w for t in toks for w in t})
    out["documents.tokens_mean"] = lens.mean()
    out["documents.tokens_p5"] = np.percentile(lens, 5)
    out["documents.tokens_p95"] = np.percentile(lens, 95)
    out["documents.near_dup_share"] = float(np.mean(
        [t[-1:] == ["dup"] for t in toks]))
    out["documents.langs"] = docs.lang.nunique()
    out["documents.en_share"] = float((docs.lang == "en").mean())
    out["documents.sources"] = docs.source.nunique()
    emb = read("embeddings")
    vec = np.stack(emb.embedding.to_numpy())
    cos = []
    for lab in np.unique(emb.label):
        v = vec[emb.label.to_numpy() == lab]
        c = v.mean(axis=0)
        cos.append(float((v @ c / np.linalg.norm(c)).mean()))
    out["embeddings.dim"] = vec.shape[1]
    out["embeddings.labels"] = len(cos)
    out["embeddings.cos_to_label_centroid"] = float(np.mean(cos))
    return out


def query_latencies(dirs: dict, passes: int = 4) -> dict:
    """{entry: {dir label: (output rows, median cold seconds)}}; the inputs
    take turns going first, so neither gets the other's warm caches."""
    sys.path.insert(0, ROOT)
    from amazon_kinesis_replay_spark.plans import QUERIES
    from perfbench import run
    run._prepare_env()
    spark = run.build_session(run._cpus())
    try:
        out = {}
        for label, d in dirs.items():               # warm-up on each input
            QUERIES[run.WARMUP_QUERY].fn(spark, d).write.format(
                "noop").mode("overwrite").save()
        for name in run.RELATIONAL + run.LLM_OPS:
            rows = {k: QUERIES[name].fn(spark, d).count()
                    for k, d in dirs.items()}
            secs = {k: [] for k in dirs}
            order = list(dirs)
            for _ in range(passes):
                for k in order:
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    QUERIES[name].fn(spark, dirs[k]).write.format(
                        "noop").mode("overwrite").save()
                    secs[k].append(time.perf_counter() - t0)
                order.reverse()
            out[name] = {k: (rows[k], statistics.median(secs[k]))
                         for k in dirs}
        return out
    finally:
        spark.stop()
        run.shutdown_jvm()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--scale", type=float, default=0.01)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--queries", action="store_true")
    args = ap.parse_args(argv)
    sys.path.insert(0, ROOT)
    from perfbench import corpus, run
    gen = corpus.load_or_write_tables(os.path.join(run.WORK, "cache"),
                                      args.seed, args.scale)
    fx, gn = table_stats(args.fixtures), table_stats(gen)
    print(f"{'statistic':40s} {'fixtures':>12s} {'generated':>12s}")
    for k in fx:
        print(f"{k:40s} {fx[k]:12.4g} {gn[k]:12.4g}")
    if args.queries:
        lat = query_latencies({"fixtures": args.fixtures, "generated": gen})
        print(f"\n{'entry':26s} {'rows fx':>9s} {'rows gen':>9s} "
              f"{'s fx':>7s} {'s gen':>7s}")
        for name, by in lat.items():
            (rf, sf), (rg, sg) = by["fixtures"], by["generated"]
            print(f"{name:26s} {rf:9d} {rg:9d} {sf:7.3f} {sg:7.3f}")
        tot = {k: sum(by[k][1] for by in lat.values())
               for k in ("fixtures", "generated")}
        print(f"{'sum':26s} {'':9s} {'':9s} {tot['fixtures']:7.3f} "
              f"{tot['generated']:7.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
