"""Replicated scale-up experiments: how walls grow from sf0.1 to an
N-times copy of it.

Protocol: there is no generated larger fixture, so the copy is built
by replicating sf0.1 with shifted keys (constant dup/near-dup/match
rates).  FACT tables (lineitem, orders, customer, events, documents,
embeddings) replicate N times with consistent key shifts on both
sides of every join; DIM tables (region, nation, supplier, part) are
copied unchanged, which is the realistic shape (facts grow, dims
don't).  Event timestamps shift by +40 days per replica so
time-bucketed operators see N times the buckets, not N times the rows
per bucket.  Files are written as 32 parquet parts.

Two batteries, selected by a flag:

- default: the 30 bench HEADLINE queries on a 10x (sf1-equivalent)
  copy in ``/tmp/sf1_x10``;
- ``--x4``: the round-3b operator battery (k-means, SemDeDup, chunk
  dedup, ...) on a 4x copy in ``/tmp/sf0.1_x4``.

Timing: best-of-3 with the noop sink; the spark cache is cleared
before each rep, and the clock starts BEFORE query construction so
iterative operators (k-means, SemDeDup, connected components) pay
their driver-coordinated rounds and internal persists inside the
measurement at both scales.  The reported exponent is
alpha = log(t_big / t_small) / log(N), the alpha in t ~ c * n^alpha
fit through the two scales (1.0 = linear, < 1.0 = sub-linear).
Caveat of any two-point fit at these absolute sizes: fixed per-query
overheads (~0.1 s planning/codegen) bias small queries DOWNWARD, so
read alpha as an upper-bound check ("nothing super-linear"), not a
precise asymptote.

Usage: python tools/scaleup.py [--x4] [build|run|all] [query ...]
(default mode ``all``; ``run`` builds the copy first if it is missing)
Emits one JSON line per query plus a summary JSON line.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
SHIFT = 10_000_000

FACTS = {
    # table -> (key columns to shift, timestamp column to stagger or None)
    "documents": (["doc_id"], None),
    "embeddings": (["vec_id"], None),
    "orders": (["o_orderkey", "o_custkey"], None),
    "customer": (["c_custkey"], None),
    "lineitem": (["l_orderkey"], None),
    "events": (["event_id", "user_id"], "ts"),
}
DIMS = ["region", "nation", "supplier", "part"]


def build(spark, dst: str, replicas: int):
    from pyspark.sql import functions as F
    for name, (keys, ts_col) in FACTS.items():
        df = spark.read.parquet(os.path.join(SRC, f"{name}.parquet"))
        parts = [df]
        for r in range(1, replicas):
            rep = df
            for k in keys:
                rep = rep.withColumn(k, F.col(k) + r * SHIFT)
            if ts_col is not None:
                rep = rep.withColumn(
                    ts_col, F.col(ts_col) + F.make_interval(
                        days=F.lit(40 * r)))
            parts.append(rep)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite") \
           .parquet(os.path.join(dst, f"{name}.parquet"))
        print("built", name, flush=True)
    for name in DIMS:
        src = os.path.join(SRC, f"{name}.parquet")
        out = os.path.join(dst, f"{name}.parquet")
        if os.path.isdir(src):
            shutil.copytree(src, out, dirs_exist_ok=True)
        else:
            shutil.copyfile(src, out)
        print("copied dim", name, flush=True)


def operator_battery() -> dict:
    """The ``--x4`` battery: name -> fn(spark, sf_dir) -> DataFrame."""
    from pyspark.sql import functions as F

    from preql_spark.operators.bloom import bloom_semi_join
    from preql_spark.operators.cluster import kmeans, semdedup
    from preql_spark.operators.dedup import chunk_dedup, corpus_overlap
    from preql_spark.operators.history import scd2_history, snapshot_diff
    from preql_spark.operators.text import (cap_per_domain, llr_importance,
                                            quantile_bucketize)

    def rd(spark, sf_dir, name):
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    def cust_diff(s, d):
        cust = rd(s, d, "customer").select("c_custkey", "c_acctbal")
        return snapshot_diff(
            cust, cust.filter(F.col("c_custkey") % 97 != 0), ["c_custkey"])

    return {
        "kmeans": lambda s, d: kmeans(rd(s, d, "embeddings"),
                                      k=8, iters=2)[0],
        "semdedup": lambda s, d: semdedup(rd(s, d, "embeddings"),
                                          tau=0.45, k=8, iters=2),
        "chunk_dedup": lambda s, d: chunk_dedup(rd(s, d, "documents"),
                                                chunk=3),
        "domain_cap": lambda s, d: cap_per_domain(
            rd(s, d, "documents"), "source", 5,
            [F.col("n_chars").desc(), F.col("doc_id")]),
        "scd2": lambda s, d: scd2_history(
            rd(s, d, "orders"), ["o_custkey"], "o_orderdate",
            ["o_orderpriority"], ["o_orderkey"]),
        "llr": lambda s, d: llr_importance(
            rd(s, d, "documents"),
            F.col("source").isin("src0", "src1", "src2", "src3")),
        "bloom_semi": lambda s, d: bloom_semi_join(
            rd(s, d, "lineitem"), "l_orderkey",
            rd(s, d, "orders").filter(F.col("o_totalprice") > 400000),
            "o_orderkey"),
        "overlap": lambda s, d: corpus_overlap(
            rd(s, d, "documents").filter(F.col("doc_id") % 2 == 0),
            rd(s, d, "documents").filter(F.col("doc_id") % 3 == 0)),
        "snapshot_diff": cust_diff,
        "bucketize": lambda s, d: quantile_bucketize(
            rd(s, d, "orders"), "o_totalprice", 8),
    }


def run(spark, battery: dict, dst: str, replicas: int, only=()):
    def t(fn, sf_dir) -> float:
        best = float("inf")
        for _ in range(3):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    rows = {}
    for name in (list(only) or list(battery)):
        try:
            t1 = t(battery[name], SRC)
            tn = t(battery[name], dst)
            alpha = round(math.log(max(tn, 1e-4) / max(t1, 1e-4))
                          / math.log(replicas), 3)
            rows[name] = {"t_sf01": t1, "t_big": tn,
                          "ratio": round(tn / t1, 2) if t1 else -1,
                          "alpha": alpha}
        except Exception as e:  # noqa: BLE001 - isolate per query
            rows[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
        print(json.dumps({"query": name, **rows[name]}), flush=True)
    ok = {n: r for n, r in rows.items() if "alpha" in r}
    print(json.dumps({
        "metric": f"scaleup_x{replicas}",
        "n": len(ok),
        "worst": max((r["alpha"] for r in ok.values()), default=None),
        "median": sorted(r["alpha"] for r in ok.values())[len(ok) // 2]
        if ok else None,
        "queries": rows,
    }), flush=True)


def main():
    args = sys.argv[1:]
    x4 = "--x4" in args
    args = [a for a in args if a != "--x4"]
    mode = args[0] if args else "all"
    replicas, dst = (4, "/tmp/sf0.1_x4") if x4 else (10, "/tmp/sf1_x10")

    from preql_spark.engine import default_session
    spark = default_session(f"scaleup_x{replicas}")
    if mode in ("build", "all") or not os.path.isdir(dst):
        build(spark, dst, replicas)
    if mode in ("run", "all"):
        if x4:
            battery = operator_battery()
        else:
            import __spark_entry__ as entry
            from bench import BENCH_QUERIES
            qs = entry.queries()
            battery = {n: qs[n] for n in BENCH_QUERIES}
        run(spark, battery, dst, replicas, only=args[1:])


if __name__ == "__main__":
    main()
