"""One-off measurement: PQ-ADC and IVF-PQ vs the brute cosine/BLAS
top-k baselines on a larger-than-fixture synthetic corpus.

Corpus: the sf0.1 embeddings (5k x 64 float32) replicated R times
with deterministic elementwise perturbation (portable-hash ramp) so
neighbors stay non-trivial.  Queries: the Q lowest-id originals.
Timed with the noop sink, best of 3 — the numbers land in SCALE.md's
Measured lessons.

Usage: python tools/measure_pq.py [replicas] [Q]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    R = int(sys.argv[1]) if len(sys.argv) > 1 else 20
    Q = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    from pyspark.sql import functions as F

    from preql_spark.engine import default_session
    from preql_spark.operators import similarity as S

    spark = default_session("measure_pq")
    base = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet") \
        .select("vec_id", "embedding")
    parts = [base]
    for r in range(1, R):
        h = (F.pmod(F.xxhash64(F.col("vec_id") + (r << 20)), F.lit(1000))
             / 1000.0 - 0.5)
        parts.append(base.select(
            (F.col("vec_id") + r * 10_000_000).alias("vec_id"),
            F.transform("embedding",
                        lambda x: (x + 0.1 * F.abs(x) * h)
                        .cast("float")).alias("embedding")))
    corpus = parts[0]
    for p in parts[1:]:
        corpus = corpus.unionByName(p)
    corpus = corpus.repartition(32).persist()
    n = corpus.count()
    q = base.filter(F.col("vec_id") < Q)

    def t(df):
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    brute_hof = t(S.cosine_topk(corpus, q, k=10))
    brute_arrow = t(S.cosine_topk_arrow(corpus, q, k=10))
    cb = S.pq_codebook(corpus, dim=64, m=8, ksub=16)
    t0 = time.perf_counter()
    enc = S.pq_encode(corpus, cb, method="arrow").persist()
    enc.count()
    t_encode = round(time.perf_counter() - t0, 3)
    adc = t(S.pq_adc_topk(enc, q, cb, k=10))
    # IVF-PQ with the BLAS encode: ivf_pq_topk's own composition
    # (coarse quantizer, sampled codebook, search) around
    # pq_encode(method="arrow"); the centroid rounds run here, so the
    # timed part is the encode + search plan
    assigned, cents = S.ivf_build(corpus, 64, 8, iters=2)
    enc_ivf = S.pq_encode(assigned, cb, id_col="__id", vec_col="__v",
                          method="arrow")
    t_ivfpq = t(S._ivf_pq_search(enc_ivf, cents, cb, q, 10, 2,
                                 "vec_id", "embedding", None))
    print({"n": n, "Q": Q,
           "brute_hof_s": brute_hof, "brute_arrow_s": brute_arrow,
           "pq_encode_once_s": t_encode, "pq_adc_s": adc,
           "ivf_pq_s": t_ivfpq})


if __name__ == "__main__":
    main()
