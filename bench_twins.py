"""Hand-authored PySpark twins of the headline benchmark queries.

The reference's transferable performance claim is "generated SQL is
within 1-5% of hand-written SQL".  The analogous claim here is that the
engine's generated DataFrame plans ARE the plans you'd write by hand.
``bench.py`` measures both sides and reports the engine/hand time ratio
per query, turning that claim into a number.

Each twin reads parquet directly with ``spark.read`` and composes plain
DataFrame ops — no Engine/Table/lang layer.  For the operator-library
queries (q38/q40/q64/q75/q78) the twin calls the same operator function
on raw-read frames: those operators are themselves plain PySpark (what
a user would hand-write); the twin then measures exactly the overhead
of the engine wrapper, which is the claim under test.
"""

from __future__ import annotations

import os
import re

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F


def normalized_plan(df: DataFrame) -> str:
    """Physical plan text with expression ids / plan ids / cached-RDD
    numbers stripped, so two structurally identical plans compare equal.

    Also canonicalizes Catalyst-internal rename noise that differs
    between semantically identical plans:
      - ``col# AS _groupingexpression#`` / ``col# AS _extract_col#``
        wrappers (groupBy on an aliased Column vs a bare name)
      - lambda variable numbering (``lambda x_7`` vs ``lambda x_17``)
      - explain-string truncation points (``...`` lands at a different
        byte once expr-id widths differ)
    """
    sc = df.sparkSession
    mode = sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple")
    text = df._jdf.queryExecution().explainString(mode)
    text = re.sub(r"#\d+[L]?", "#", text)
    # map Catalyst helper aliases back to their source column
    for orig, alias in re.findall(
            r"(\w+)# AS ((?:_groupingexpression|_extract_\w+)\d*)#", text):
        text = text.replace(f"{orig}# AS {alias}#", f"{orig}#")
        text = text.replace(f"{alias}#", f"{orig}#")
    text = re.sub(r"\b([a-z]+)_\d+#", r"\1_#", text)   # lambda vars
    # Arrow-boundary nodes embed the PYTHON function's name — plan
    # structure is what the comparison is about, and engine vs twin
    # legitimately name their kernels differently (_gate vs _score)
    text = re.sub(
        r"\b(MapInPandas|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas"
        r"|ApplyInPandasWithState) \w+\(", r"\1 <fn>(", text)
    text = re.sub(r"plan_id=\d+", "plan_id=", text)
    text = re.sub(r"\[id=#\]", "", text)
    # truncated field lists diverge at the cut point — elide them
    text = re.sub(r"(DataFilters|PushedFilters|PartitionFilters):"
                  r" \[[^\]]*\.\.\.", r"\1: [<elided>", text)
    text = re.sub(r"InMemoryTableScan.*", "InMemoryTableScan", text)
    # scan locations: engine and twin read IDENTICAL fixture paths for
    # the batch queries, but the streaming pair (q217) reads each
    # side's own scratch state dir — elide the path, keep the shape
    text = re.sub(r"InMemoryFileIndex(\(\d+ paths\))?\[[^\]]*",
                  "InMemoryFileIndex[<elided>", text)
    return text


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet read through the shared schema-driven normalizer
    (preql_spark.parquet_io) — the same helper the engine uses, so the
    twins can never desynchronize from the testdata's actual timestamp
    encoding again (the round-2 bench crash was a stale hardcoded
    TIMESTAMP(NANOS) shim here after the testdata moved to
    timestamp[us])."""
    from preql_spark.parquet_io import read_parquet
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


def q01_pricing_summary(spark, sf_dir):
    l = _read(spark, sf_dir, "lineitem")
    return (l.filter(F.col("l_shipdate") <= F.lit("2000-01-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2)
                 .alias("sum_disc_price"),
                 F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc"),
                 F.count(F.lit(1)).alias("count_order")))


def q04_revenue_by_nation(spark, sf_dir):
    l = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    j = (l.join(o, l.l_orderkey == o.o_orderkey)
         .join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey))
    return (j.select(F.col("n_name").alias("nation"),
                     (F.col("l_extendedprice")
                      * (1 - F.col("l_discount"))).alias("rev"))
            .groupBy("nation")
            .agg(F.round(F.sum("rev"), 2).alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("nation")))


def q05_region_order_stats(spark, sf_dir):
    o = _read(spark, sf_dir, "orders")
    c = _read(spark, sf_dir, "customer")
    n = _read(spark, sf_dir, "nation")
    r = _read(spark, sf_dir, "region")
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.groupBy(F.col("r_name").alias("region"))
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.round(F.sum("o_totalprice"), 2).alias("total")))


def q06_forecast_revenue(spark, sf_dir):
    l = _read(spark, sf_dir, "lineitem")
    return (l.filter((F.col("l_discount") >= 0.05)
                     & (F.col("l_discount") <= 0.07)
                     & (F.col("l_quantity") < 24))
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * F.col("l_discount")), 2).alias("revenue")))


def q16_casts(spark, sf_dir):
    l = _read(spark, sf_dir, "lineitem")
    qi = F.floor(F.col("l_quantity")).cast("long")
    return l.select(
        "l_orderkey", "l_linenumber",
        qi.alias("qty_int"),
        qi.cast("string").alias("qty_str"),
        qi.cast("string").cast("long").alias("back"),
        (F.floor((F.col("l_extendedprice") / F.col("l_quantity"))
                 * 10000 + F.lit(0.5)) / 10000).alias("fdiv"),
        F.floor(F.col("l_orderkey") / 7).cast("long").alias("idiv"))


def q25_window_rank(spark, sf_dir):
    c = _read(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (c.select("c_custkey", "c_nationkey", "c_acctbal",
                     F.row_number().over(w).alias("rn"))
            .filter(F.col("rn") <= 3))


def q38_neardup_minhash(spark, sf_dir):
    from preql_spark.operators import dedup
    d = _read(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(d, "doc_id", threshold=0.9)
    return pairs.select(
        "id_a", "id_b",
        (F.floor(F.col("jaccard") * 10000 + F.lit(0.5)) / 10000)
        .alias("jaccard"))


def q40_cosine_topk(spark, sf_dir):
    from preql_spark.operators import similarity
    e = _read(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    out = similarity.cosine_topk(e, q, k=5)
    return out.select(
        "query_id", "neighbor_id", "rank",
        (F.floor(F.col("sim") * 10000 + F.lit(0.5)) / 10000).alias("sim"))


def q44_sessionize(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts", 1).over(w))
    newsess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    sess = (e.withColumn("__new", newsess)
            .withColumn("session_idx",
                        F.sum("__new").over(
                            w.rowsBetween(Window.unboundedPreceding, 0))))
    return (sess.groupBy("user_id", "session_idx")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.min("event_id").alias("first_event")))


def q45_tumbling_window(spark, sf_dir):
    e = _read(spark, sf_dir, "events")
    return (e.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("bucket"),
        F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total")))


def q64_tfidf_top_terms(spark, sf_dir):
    from preql_spark.operators.text import tf_idf
    d = _read(spark, sf_dir, "documents")
    scored = tf_idf(d.filter(F.col("doc_id") < 100), "doc_id", "text")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token"))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 3)
            .select("doc_id", "token", "rnk",
                    (F.floor(F.col("tfidf") * 10000 + F.lit(0.5)) / 10000)
                    .alias("tfidf")))


def q75_pack_sequences(spark, sf_dir):
    from preql_spark.operators import text
    d = _read(spark, sf_dir, "documents")
    return text.pack_sequences(d, "doc_id", "text",
                               budget=512, n_buckets=16)


def q78_interval_join(spark, sf_dir):
    from preql_spark.operators.rangejoin import interval_join
    iv = (spark.range(15)
          .select(F.col("id").alias("window_id"),
                  (F.to_timestamp(F.lit("2024-01-01 00:00:00"))
                   + F.make_interval(days=F.col("id") * 2)).alias("start"))
          .withColumn("end", F.col("start") + F.expr("INTERVAL 6 HOURS")))
    ev = _read(spark, sf_dir, "events").select("event_id", "ts")
    out = interval_join(ev, iv, bucket_s=6 * 3600)
    return out.groupBy("window_id").agg(F.count(F.lit(1)).alias("n_events"))


def _pr4(col):
    return F.floor(col * 10000 + F.lit(0.5)) / 10000


def q95_repetition_metrics(spark, sf_dir):
    from preql_spark.operators import text
    d = _read(spark, sf_dir, "documents")
    m = text.repetition_metrics(d)

    def e4(c):
        return F.floor(F.col(c) * 10000 + F.lit(0.5)).cast("long")

    return m.select("doc_id", "n_lines",
                    e4("dup_line_frac").alias("dup_line_frac_e4"),
                    e4("dup_line_char_frac").alias("dup_line_char_frac_e4"),
                    e4("top_bigram_frac").alias("top_bigram_frac_e4"))


def q99_lm_perplexity(spark, sf_dir):
    from preql_spark.operators.text import lm_perplexity
    d = _read(spark, sf_dir, "documents")
    out = lm_perplexity(d.filter(F.col("doc_id") < 200))
    return out.select("doc_id", "n_bigrams",
                      _pr4(F.col("avg_logp")).alias("avg_logp"),
                      _pr4(F.col("ppl")).alias("ppl"))


def q102_chunk_dedup(spark, sf_dir):
    from preql_spark.operators.dedup import chunk_dedup
    return chunk_dedup(_read(spark, sf_dir, "documents"), chunk=3)


def q106_bloom_semi_join(spark, sf_dir):
    from preql_spark.operators.bloom import bloom_semi_join
    li = _read(spark, sf_dir, "lineitem")
    o = _read(spark, sf_dir, "orders") \
        .filter(F.col("o_totalprice") > 400000)
    return bloom_semi_join(li, "l_orderkey", o, "o_orderkey") \
        .select("l_orderkey", "l_linenumber", "l_quantity")


def q114_curation_pipeline(spark, sf_dir):
    from preql_spark.operators import dedup
    from preql_spark.operators.text import cap_per_domain, token_count
    d = _read(spark, sf_dir, "documents")
    gated = d.filter((token_count(F.col("text")) >= 30)
                     & (F.col("lang") == "en"))
    deduped = dedup.dedup_exact(gated, "doc_id")
    ev = d.filter(F.col("doc_id") % 5 == 0)
    train = deduped.filter(F.col("doc_id") % 5 != 0)
    clean = dedup.decontaminate(train, ev, "doc_id")
    return cap_per_domain(clean, "source", 10,
                          [F.col("n_chars").desc(), F.col("doc_id")]) \
        .select("doc_id", "source", "n_chars")


def q215_gopher_quality_gate(spark, sf_dir):
    """INDEPENDENT hand transcription of the Gopher composite gate
    (q215's dirt + thresholds spelled from scratch) — a frozen plan
    tripwire for the gate family: any later regression inside
    text.gopher_quality_gate shows as plan_match=false here."""
    d = _read(spark, sf_dir, "documents")
    i = F.col("doc_id")
    c = F.concat(
        F.col("text"),
        F.when(i % 5 == 0, F.lit(
            "\n- bullet one\n- bullet two\n• bullet three"
            "\nplain tail...")).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit(" # # # # # # # # # #"))
        .otherwise(F.lit("")),
        F.when(i % 11 == 0, F.lit(
            " 111 222 333 444 555 666 777 888 999 000"
            " 111 222 333 444 555 666 777 888 999 000"))
        .otherwise(F.lit("")),
        F.when(i % 13 == 0, F.lit(
            " the be to of and that have with"))
        .otherwise(F.lit("")))
    d = d.select("doc_id", c.alias("text"))
    # mirror of the engine's r14 parallelism lift (honest pairing):
    # the gate is regex-heavy per-row work, so a hand author lifts a
    # small file count to full parallelism before it too
    par = spark.sparkContext.defaultParallelism
    if 0 < len(d.inputFiles()) < par:
        d = d.repartition(par)
    c = F.coalesce(F.col("text"), F.lit(""))
    base = d.withColumns({
        "__w": F.filter(F.split(c, r"\s+"),
                        lambda w: w != F.lit("")),
        "__l": F.filter(F.split(c, r"\n"),
                        lambda ln: ~ln.rlike(r"^\s*$")),
        "__nsym": F.size(F.regexp_extract_all(
            c, F.lit(r"#|\.\.\.|…"), F.lit(0)))})
    w, ln = F.col("__w"), F.col("__l")
    nw, nl = F.size(w), F.size(ln)
    mean_wl = F.try_divide(
        F.aggregate(w, F.lit(0).cast("long"),
                    lambda acc, x: acc + F.length(x)), nw) \
        .cast("double")
    sym = F.try_divide(F.col("__nsym"), nw).cast("double")
    bul = F.try_divide(
        F.size(F.filter(ln, lambda x:
                        x.rlike(r"^\s*[-*•‣▪]"))), nl).cast("double")
    ell = F.try_divide(
        F.size(F.filter(ln, lambda x:
                        x.rlike(r"(\.\.\.|…)\s*$"))), nl).cast("double")
    alp = F.try_divide(
        F.size(F.filter(w, lambda x: x.rlike(r"[A-Za-z]"))),
        nw).cast("double")
    hits = F.lit(0)
    for s in ("the", "be", "to", "of", "and", "that", "have", "with"):
        hits = hits + F.array_contains(w, F.lit(s)).cast("int")
    p4 = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    m = base.withColumns({
        "n_words": nw, "mean_word_len": mean_wl,
        "symbol_word_ratio": sym, "bullet_line_frac": bul,
        "ellipsis_line_frac": ell, "alpha_word_frac": alp,
        "stop_word_hits": hits})
    rules = {
        "pass_word_count": (F.col("n_words") >= 40)
        & (F.col("n_words") <= 100000),
        "pass_mean_word_len": F.coalesce(
            (F.col("mean_word_len") >= 3.0)
            & (F.col("mean_word_len") <= 10.0), F.lit(False)),
        "pass_symbol_ratio": F.coalesce(
            F.col("symbol_word_ratio") <= 0.1, F.lit(False)),
        "pass_bullet_lines": F.coalesce(
            F.col("bullet_line_frac") <= 0.5, F.lit(True)),
        "pass_ellipsis_lines": F.coalesce(
            F.col("ellipsis_line_frac") <= 0.15, F.lit(True)),
        "pass_alpha_words": F.coalesce(
            F.col("alpha_word_frac") >= 0.8, F.lit(False)),
        "pass_stop_words": F.col("stop_word_hits") >= 1,
    }
    m = m.withColumns(rules)
    keep = None
    for r in rules:
        keep = F.col(r) if keep is None else keep & F.col(r)
    return m.withColumn("keep", keep) \
        .drop("__w", "__l", "__nsym").select(
        "doc_id", "n_words",
        p4(F.col("mean_word_len")).alias("mean_word_len"),
        p4(F.col("symbol_word_ratio")).alias("symbol_word_ratio"),
        p4(F.col("bullet_line_frac")).alias("bullet_line_frac"),
        p4(F.col("ellipsis_line_frac")).alias("ellipsis_line_frac"),
        p4(F.col("alpha_word_frac")).alias("alpha_word_frac"),
        "stop_word_hits", "pass_word_count", "pass_mean_word_len",
        "pass_symbol_ratio", "pass_bullet_lines",
        "pass_ellipsis_lines", "pass_alpha_words", "pass_stop_words",
        "keep")


# ---- heavy pipeline ops: INDEPENDENT hand spellings ------------------------
# Unlike the operator-library twins above (which call the same plain-
# PySpark operator body and measure wrapper overhead), these three are
# transcribed from scratch: any later plan regression inside the
# operator shows up as plan_match=false / ratio drift against this
# frozen hand spelling.

def q100_kmeans(spark, sf_dir):
    """Hand Lloyd k-means: driver-held centroids, scan-local argmin
    assignment (zero corpus shuffle), (cluster, dim)-grouped update.
    One frozen hand spelling (_twin_kmeans_assigned) serves both this
    twin and q101's; the embedding column prunes away."""
    return _twin_kmeans_assigned(spark, sf_dir, k=8, iters=2) \
        .select("vec_id", "cluster")


def _twin_kmeans_assigned(spark, sf_dir, k=8, iters=2):
    e = _read(spark, sf_dir, "embeddings") \
        .select(F.col("vec_id").alias("__id"),
                F.col("embedding").alias("__v")).persist()
    cents = [list(map(float, r["__v"]))
             for r in e.orderBy("__id").limit(k).collect()]

    def assign(frame, cs):
        scored = frame.select(
            "*",
            F.array(*[
                F.aggregate(
                    F.zip_with(F.col("__v"),
                               F.array(*[F.lit(x) for x in c]),
                               lambda a, b: ((a.cast("double") - b)
                                             * (a.cast("double") - b))),
                    F.lit(0.0), lambda acc, v: acc + v)
                for c in cs]).alias("__d"))
        return scored.select(
            "*", F.array_position(F.col("__d"), F.array_min("__d"))
            .cast("int").alias("__cid")).drop("__d")

    for _ in range(iters):
        upd = (assign(e, cents)
               .select("__cid", F.posexplode("__v").alias("__p", "__x"))
               .groupBy("__cid", "__p").agg(F.avg("__x").alias("__m"))
               .groupBy("__cid")
               .agg(F.array_sort(F.collect_list(F.struct("__p", "__m")))
                    .alias("__ms"))
               .select("__cid", F.transform("__ms", lambda s: s["__m"])
                       .alias("__c")))
        got = {r["__cid"]: list(map(float, r["__c"])) for r in upd.collect()}
        cents = [got.get(i + 1, cents[i]) for i in range(k)]
    out = assign(e, cents).select(
        F.col("__id").alias("vec_id"),
        (F.col("__cid") - 1).cast("int").alias("cluster"),
        F.col("__v").alias("embedding"))
    e.unpersist()
    return out


def q101_semdedup(spark, sf_dir):
    """Hand SemDeDup: k-means clusters, then the min-id near-dup drop
    computed as a BLOCKWISE gram matrix in an Arrow applyInPandas
    kernel (the |cluster|^2 cosine stage is dense vector math — BLAS
    territory, ~6x the HOF pair join), survivors via one anti join.
    Oversized clusters are hash-salted into sub-block pair groups so
    one task never holds more than 2*max_group rows (executor-memory
    bound at scale); candidates stay sum(|cluster|^2), never
    corpus^2."""
    from pyspark.sql import types as T
    assigned = _twin_kmeans_assigned(spark, sf_dir, k=8, iters=2)
    base = assigned.select(F.col("vec_id").alias("__id"), "cluster",
                           F.col("embedding").alias("__v"))
    tau, block, max_group = 0.45, 4096, 65_536
    out_schema = T.StructType(
        [T.StructField("__drop", base.schema["__id"].dataType)])

    def find_drops(key, pdf):
        import numpy as np
        import pandas as pd
        _, ga, gb = key

        def mat(part):
            return np.stack(part.to_numpy()).astype(np.float64)

        if ga == gb:
            pdf = pdf.sort_values("__id", kind="mergesort")
            ids = pdf["__id"].to_numpy()
            m = mat(pdf["__v"])
            nrm = np.linalg.norm(m, axis=1)
            n = len(ids)
            dropped = np.zeros(n, dtype=bool)
            for j0 in range(1, n, block):
                j1 = min(j0 + block, n)
                hit = np.zeros(j1 - j0, dtype=bool)
                for i0 in range(0, j1, block):
                    i1 = min(i0 + block, j1)
                    g = m[i0:i1] @ m[j0:j1].T
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sim = g / np.outer(nrm[i0:i1], nrm[j0:j1])
                    match = sim >= tau  # NaN (zero-norm) never matches
                    gi = np.arange(i0, i1)[:, None]
                    gj = np.arange(j0, j1)[None, :]
                    hit |= (match & (gi < gj)).any(axis=0)
                dropped[j0:j1] = hit
            return pd.DataFrame({"__drop": ids[dropped]})
        a, b = pdf[pdf["__b"] == ga], pdf[pdf["__b"] == gb]
        if not len(a) or not len(b):
            return pd.DataFrame({"__drop": pdf["__id"][:0]})
        ida, idb = a["__id"].to_numpy(), b["__id"].to_numpy()
        ma, mb = mat(a["__v"]), mat(b["__v"])
        na, nb = np.linalg.norm(ma, axis=1), np.linalg.norm(mb, axis=1)
        drop_a = np.zeros(len(ida), dtype=bool)
        drop_b = np.zeros(len(idb), dtype=bool)
        for i0 in range(0, len(ida), block):
            i1 = min(i0 + block, len(ida))
            for j0 in range(0, len(idb), block):
                j1 = min(j0 + block, len(idb))
                g = ma[i0:i1] @ mb[j0:j1].T
                with np.errstate(divide="ignore", invalid="ignore"):
                    sim = g / np.outer(na[i0:i1], nb[j0:j1])
                match = sim >= tau
                lower = ida[i0:i1, None] < idb[None, j0:j1]
                drop_b[j0:j1] |= (match & lower).any(axis=0)
                drop_a[i0:i1] |= (match & ~lower).any(axis=1)
        return pd.DataFrame(
            {"__drop": np.concatenate([ida[drop_a], idb[drop_b]])})

    from pyspark.sql import Window
    wc = Window.partitionBy("cluster")
    salted = (base.withColumn("__cn", F.count(F.lit(1)).over(wc))
              .withColumn("__s", F.ceil(F.col("__cn") / F.lit(max_group))
                          .cast("int"))
              .withColumn("__b", F.pmod(F.hash("__id"), F.col("__s"))
                          .cast("int")))
    groups = F.transform(
        F.sequence(F.lit(0), F.col("__s") - 1),
        lambda t: F.struct(F.least(t, F.col("__b")).alias("ga"),
                           F.greatest(t, F.col("__b")).alias("gb")))
    drops = (salted.select("cluster", "__b", "__id", "__v",
                           F.explode(groups).alias("__g"))
             .select("cluster", F.col("__g.ga").alias("__ga"),
                     F.col("__g.gb").alias("__gb"), "__b", "__id", "__v")
             .groupBy("cluster", "__ga", "__gb")
             .applyInPandas(find_drops, schema=out_schema)
             .distinct())
    return (base.join(drops, base["__id"] == drops["__drop"], "left_anti")
            .select(F.col("__id").alias("vec_id"), "cluster"))


def q73_dedup_canonical(spark, sf_dir):
    """Hand near-dup dedup pipeline: MinHash banding (narrow banded
    shuffle, hot-bucket cap) -> exact-Jaccard verify -> iterative
    min-label connected components -> keep min-id per cluster."""
    M31 = 2147483647
    n_hashes, bands, shingle_k, thresh, max_bucket = 16, 8, 3, 0.9, 200
    rows_per_band = n_hashes // bands

    d = _read(spark, sf_dir, "documents")
    # lift a small file count to full parallelism before the CPU-heavy
    # shingling (no-op when the scan already has >= cores partitions)
    src = d
    if 0 < len(d.inputFiles()) < spark.sparkContext.defaultParallelism:
        src = d.repartition(spark.sparkContext.defaultParallelism)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    shingled = (src
                .select(F.col("doc_id").alias("__id"), toks.alias("__t"))
                .select("__id", F.array_distinct(F.transform(
                    F.sequence(F.lit(0),
                               F.greatest(F.size(F.col("__t")) - shingle_k,
                                          F.lit(0))),
                    lambda i: F.concat_ws(" ", F.slice(F.col("__t"), i + 1,
                                                       shingle_k))))
                    .alias("__sh")))
    # the signature is cached WITH the shingle sets (a scan-local
    # array_min fold per universal hash over the once-hashed shingles),
    # so both band-join sides and the verify joins read one cache; the
    # empty-set filter sits above the cache so it is not pushed below
    # the parallelism lift
    hs = shingled.select(
        "__id", "__sh",
        F.transform("__sh", lambda s: F.abs(F.xxhash64(s)) % M31)
        .alias("__hs"))

    def mixer(a, b):
        return lambda h: (h * a + b) % M31

    sh = hs.select("__id", "__sh", F.array(*[
        F.array_min(F.transform(
            "__hs", mixer(((i + 1) * 2654435761) % M31,
                          (i * 40503 + 17) % M31)))
        for i in range(n_hashes)]).alias("__sig")).persist(
            StorageLevel.MEMORY_AND_DISK)

    banded = sh.filter(F.size("__sh") > 0).select(
        "__id",
        F.posexplode(F.array(*[
            F.hash(F.slice("__sig", b * rows_per_band + 1, rows_per_band))
            for b in range(bands)])).alias("__band", "__bkey"))
    wb = Window.partitionBy("__band", "__bkey")
    banded = (banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
              .filter(F.col("__bn") <= max_bucket).drop("__bn"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (a.join(b, (F.col("a.__band") == F.col("b.__band"))
                    & (F.col("a.__bkey") == F.col("b.__bkey"))
                    & (F.col("a.__id") < F.col("b.__id")))
             .select(F.col("a.__id").alias("id_a"),
                     F.col("b.__id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    shin = sh.select("__id", "__sh")
    cands = (cands
             .join(shin.select(F.col("__id").alias("id_a"),
                               F.col("__sh").alias("sh_a")), "id_a")
             .join(shin.select(F.col("__id").alias("id_b"),
                               F.col("__sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    pairs = (cands.select("id_a", "id_b",
                          (inter / union).cast("double").alias("jaccard"))
             .filter(F.col("jaccard") >= thresh))

    # mirror: both edge directions from one scan of the pairs
    sym = pairs.select(F.inline(F.array(
        F.struct(F.col("id_a").alias("__a"), F.col("id_b").alias("__b")),
        F.struct(F.col("id_b").alias("__a"), F.col("id_a").alias("__b")))))
    # r15 mirror: co-partitioned serialized persist (see
    # connected_components) instead of the eager localCheckpoint
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    sym = sym.repartition(nshuf, "__a").persist(
        StorageLevel.MEMORY_AND_DISK)
    labels = (sym.select(F.col("__a").alias("node")).distinct()
              .withColumn("component", F.col("node")))

    # mirror of the engine's observed convergence: each round's
    # checkpoint job counts the nodes whose label decreased, so no
    # collect runs before or inside the loop.  The sym cache is
    # therefore first materialized BY round 1's checkpoint, exactly
    # as in the engine, and every checkpoint carries the same origin
    # stats — same downstream join planning.
    for _ in range(30):
        neighbor = (sym.join(labels, sym["__a"] == labels["node"])
                    .select(F.col("__b").alias("node"), "component",
                            F.lit(None).alias("__old")))
        new = (labels.select("node", "component",
                             F.col("component").alias("__old"))
               .union(neighbor)
               .groupBy("node")
               .agg(F.min("component").alias("component"),
                    F.min("__old").alias("__old")))
        obs = Observation()
        labels = (new.observe(obs, F.count_if(F.col("component")
                                              < F.col("__old")).alias("n"))
                  .select("node", "component").localCheckpoint(eager=True))
        if obs.get["n"] == 0:
            break
    sym.unpersist()
    losers = labels.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias("doc_id"))
    return d.join(losers, "doc_id", "left_anti").select("doc_id")



def q137_duplicate_spans(spark, sf_dir):
    """Hand duplicate-span detection: 8-byte gram fingerprints,
    count-distinct dup filter, semi-join flagging, two-window
    interval merge, per-doc rollup — the plan you'd write directly."""
    k = 5
    d = _read(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.coalesce(F.col("text"), F.lit(""))), r"\s+")
    n = F.size(toks)
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    base = d.select("doc_id", toks.alias("__toks"),
                    starts.alias("__starts"))
    grams = base.select(
        "doc_id", F.explode("__starts").alias("__pos"),
        F.xxhash64(F.array_join(
            F.slice(F.col("__toks"), F.col("__pos") + 1, F.lit(k)),
            " ")).alias("__gh")).persist(
        StorageLevel.MEMORY_AND_DISK)   # r14 mirror: gram pass once
    dup = (grams.groupBy("__gh")
           .agg(F.countDistinct("doc_id").alias("__nd"))
           .filter(F.col("__nd") >= 2).select("__gh"))
    flagged = grams.join(dup, "__gh", "left_semi")
    wprev = (Window.partitionBy("doc_id").orderBy("__pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy("doc_id").orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (flagged
          .withColumn("__e", F.col("__pos") + k - 1)
          .withColumn("__pm", F.max("__e").over(wprev))
          .withColumn("__new", (F.col("__pm").isNull()
                                | (F.col("__pos") > F.col("__pm") + 1))
                      .cast("int"))
          .withColumn("__iid", F.sum("__new").over(wrun)))
    spans = (iv.groupBy("doc_id", "__iid")
             .agg((F.max("__e") - F.min("__pos") + 1).alias("__cov"),
                  F.count(F.lit(1)).alias("__ng")))
    per_doc = (spans.groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_spans"),
                    F.sum("__cov").alias("dup_tokens"),
                    F.sum("__ng").alias("n_dup_grams")))
    docs = d.select("doc_id", n.alias("n_tokens"))
    out = docs.join(per_doc, "doc_id", "left")
    ratio = (F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens"))
    return out.select(
        "doc_id", "n_tokens",
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (F.floor(ratio * 10000 + F.lit(0.5)) / 10000).alias("dup_ratio"))


def q138_pq_adc_topk(spark, sf_dir):
    """Hand PQ + ADC: sampled 8x16 codebook (collect of the 16
    lowest-id vectors), per-subspace literal argmin encode, driver
    LUTs, O(m)-lookup distances, per-query TakeOrdered."""
    m, ksub, sub, k = 8, 16, 8, 10
    e = _read(spark, sf_dir, "embeddings")
    rows = (e.select(F.col("vec_id").alias("__id"),
                     F.col("embedding").alias("__v"))
            .orderBy("__id").limit(ksub).collect())
    cb = [[[float(x) for x in r["__v"][j * sub:(j + 1) * sub]]
           for r in rows] for j in range(m)]

    def sq(start0, cent):
        return F.aggregate(
            F.zip_with(F.slice(F.col("embedding"), start0 + 1, sub),
                       F.array(*[F.lit(x) for x in cent]),
                       lambda a, b: ((a.cast("double") - b)
                                     * (a.cast("double") - b))),
            F.lit(0.0), lambda acc, x: acc + x)

    # r14 mirror: distance arrays staged once (single evaluation)
    staged = e.select("*", *[
        F.array(*[sq(j * sub, c) for c in cb[j]]).alias(f"__pqd{j}")
        for j in range(m)])
    code = F.array(*[
        (F.array_position(F.col(f"__pqd{j}"),
                          F.array_min(F.col(f"__pqd{j}")))
         - 1).cast("int")
        for j in range(m)])
    enc = (staged.withColumn("pq_code", code)
           .drop(*[f"__pqd{j}" for j in range(m)]))
    qrows = (e.filter(F.col("vec_id") < 4)
             .select(F.col("vec_id").alias("__qid"),
                     F.col("embedding").alias("__qv")).collect())
    luts = []
    for r in qrows:
        qv = [float(x) for x in r["__qv"]]
        lut = []
        for j in range(m):
            row = []
            for c in cb[j]:
                acc = 0.0
                for a, b in zip(qv[j * sub:(j + 1) * sub], c):
                    acc += (a - b) * (a - b)
                row.append(acc)
            lut.append(row)
        luts.append((r["__qid"], lut))
    lut_df = spark.createDataFrame(
        luts, "query_id long, __lut array<array<double>>")
    dist = F.aggregate(
        F.zip_with(F.col("pq_code"), F.col("__lut"),
                   lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (enc.select(F.col("vec_id").alias("vec_id_out"),
                         F.col("pq_code"))
              .crossJoin(F.broadcast(lut_df))
              .select("query_id",
                      F.col("vec_id_out").alias("vec_id"),
                      dist.alias("dist")))
    key = F.floor(F.col("dist") * 10000 + F.lit(0.5)) / 10000
    w = Window.partitionBy("query_id").orderBy(key, F.col("vec_id"))
    top = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k))
    return top.select(
        "query_id", "vec_id",
        (F.floor(F.col("dist") * 10000 + F.lit(0.5)) / 10000)
        .alias("dist"), "rank")


def q145_hybrid_search(spark, sf_dir):
    """Hand hybrid retrieval: the two retrieval legs are the operator
    library's plain-PySpark spellings (the documented twin convention
    for library ops); the RRF fusion — outer join, coalesced
    reciprocal-rank sum, ranking window — is hand-written."""
    from preql_spark.operators.similarity import cosine_topk
    from preql_spark.operators.text import ranked_search
    d = _read(spark, sf_dir, "documents")
    e = _read(spark, sf_dir, "embeddings")
    lex = ranked_search(d, "hash table", k=20, tie_digits=4) \
        .select("doc_id", F.col("rank").alias("__r0"))
    den = (cosine_topk(e, e.filter(F.col("vec_id") == 7), k=20)
           .select(F.col("neighbor_id").alias("doc_id"),
                   F.col("rank").alias("__r1")))
    score = (F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("__r0")),
                        F.lit(0.0))
             + F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("__r1")),
                          F.lit(0.0)))
    scored = (lex.join(den, "doc_id", "outer")
              .select("doc_id", score.cast("double").alias("rrf_score")))
    w = Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= 15))
    rs = F.floor(F.col("rrf_score") * 1000000 + F.lit(0.5)) / 1000000
    return out.select("doc_id", rs.alias("rrf_score"), "rank")


def q185_weighted_pagerank(spark, sf_dir):
    """Hand weighted PageRank: three exact-int rounds over the
    bidirectional supplier<->part multiplicity graph — contrib =
    (rank * w) DIV wsum, rank' = base + (inflow * 17) DIV 20 — with
    the up-front edge+out-weight join co-partitioned by src ONCE (so
    each round shuffles only the |nodes| rank table), non-eager
    localCheckpoints cutting lineage, and the in-plan positive-int64
    weight check the 2^63 overflow contract demands."""
    li = _read(spark, sf_dir, "lineitem")
    e = (li.groupBy(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string"))
        .alias("src"),
        F.concat(F.lit("p"), F.col("l_partkey").cast("string"))
        .alias("dst"))
        .agg(F.count(F.lit(1)).alias("w")))
    ed = e.unionAll(e.select(F.col("dst").alias("src"),
                             F.col("src").alias("dst"), "w"))
    wc = F.col("w").cast("long")
    wv = F.when(wc.isNull() | (wc <= 0), F.raise_error(F.concat(
        F.lit("pagerank: weight must be a positive int64, got "),
        F.coalesce(F.col("w").cast("string"), F.lit("NULL"))))) \
        .otherwise(wc)
    ew = ed.select(F.col("src").alias("__s"),
                   F.col("dst").alias("__d"), wv.alias("__w"))
    nodes = (ew.select(F.col("__s").alias("node"))
             .union(ew.select(F.col("__d").alias("node")))
             .distinct().localCheckpoint(eager=False))
    deg = ew.groupBy("__s").agg(F.sum("__w").alias("__deg"))
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # r15 mirror: serialized persist keeps hashpartitioning(__s)
    # visible to every round's rank join (localCheckpoint dropped it)
    e_deg = (ew.join(deg, "__s").repartition(nshuf, "__s")
             .persist(StorageLevel.MEMORY_AND_DISK))
    units, num, den = 1_000_000, 17, 20
    base = (units * (den - num)) // den
    r = nodes.select("node",
                     F.lit(units).cast("long").alias("rank_units"))
    # zero-inflow nodes ride the agg's exchange as unioned zero rows
    # (mirrors the engine: two shuffles per round, no third join)
    zero_in = nodes.select("node", F.lit(0).cast("long").alias("__c"))
    for i in range(3):
        inflow = (e_deg.join(r, e_deg["__s"] == r["node"])
                  .select(F.col("__d").alias("node"),
                          F.expr("(rank_units * __w) DIV __deg")
                          .alias("__c"))
                  .unionAll(zero_in)
                  .groupBy("node").agg(F.sum("__c").alias("__in")))
        r = inflow.select(
            "node",
            (F.lit(base) + F.expr(
                f"(__in * {num}) DIV {den}"))
            .cast("long").alias("rank_units"))
        if i % 3 == 2:
            r = r.localCheckpoint(eager=False)
    return r.select("node", "rank_units",
                    (F.col("rank_units") / F.lit(units)).alias("pr"))


def q209_curation_pipeline(spark, sf_dir):
    """Wrapper-overhead twin of the end-to-end curation capstone:
    the same operator chain (canonicalize → URL dedup → normalize →
    MinHash pairs → keep-best → leakage split → concentration) on
    raw-read frames — the operators ARE plain PySpark, so the twin
    measures exactly the Engine/Table layer's overhead."""
    from preql_spark.operators import dedup, text
    d = _read(spark, sf_dir, "documents")
    doc = F.col("doc_id")
    dirty = (F.when(doc % 3 == 0, F.upper("text"))
             .when(doc % 3 == 1, F.concat(F.col("text"), F.lit(" !!")))
             .otherwise(F.col("text")))
    v1 = F.concat(F.lit("HTTP://H"), doc % 7,
                  F.lit(".Example.COM:80/p/"), doc,
                  F.lit("/?utm_source=x&ref="), doc, F.lit("#f"))
    v2 = F.concat(F.lit("http://h"), doc % 7,
                  F.lit(".example.com/p/"), doc,
                  F.lit("?ref="), doc)
    crawl = (d.select(doc, F.lit(1).alias("seq"), v1.alias("url"),
                      dirty.alias("dirty"))
             .unionByName(
                 d.select(doc, F.lit(2).alias("seq"), v2.alias("url"),
                          dirty.alias("dirty"))))
    canon = crawl.withColumn("curl", text.canonicalize_url("url"))
    w = Window.partitionBy("curl").orderBy("seq")
    # r14 mirror: re-parallelize between the window and the regex
    # projection; persist page (two consumers) — see q209 entry
    page = text.ensure_parallelism(
        canon.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("doc_id", "dirty", "curl"))
    page = (page.select("doc_id", "dirty",
                        text.host_of("curl").alias("host"),
                        text.normalize_text("dirty").alias("ntext"))
            .persist(StorageLevel.MEMORY_AND_DISK))
    pairs = dedup.minhash_lsh_pairs(page, "doc_id", text_col="ntext",
                                    threshold=0.9)
    comp = dedup.connected_components(pairs)
    kept = dedup.dedup_keep_best(
        page, pairs, "doc_id",
        [F.length("dirty").desc(), F.col("doc_id")],
        components=comp)
    split = dedup.leakage_safe_split(
        kept, pairs, {"train": 0.8, "valid": 0.1, "test": 0.1},
        components=comp)
    out = text.concentration(split, ["split"], "host",
                             "length(dirty)")
    r4 = lambda c: F.floor(c * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    return out.select("split", "n_keys", "total",
                      r4(F.col("hhi")).alias("hhi"),
                      r4(F.col("top_share")).alias("top_share"))


def _hand_gopher_keeped(df):
    """Hand-spelled Gopher composite keep over ``text`` at q217's
    thresholds (min_words=40, min_stop_words=1, engine defaults
    elsewhere), shared by the q217 twin's per-batch sink and
    tests/test_plans.py's per-batch plan-equality check.  The word
    and line arrays materialize ONCE as columns — the hand spelling
    a competent author writes, because a one-expression keep
    re-splits the text for every sub-rule (the HOF-recompute trap
    the engine gate also dodges)."""
    c = F.coalesce(F.col("text"), F.lit(""))
    base = df.withColumns({
        "__w": F.filter(F.split(c, r"\s+"),
                        lambda x: x != F.lit("")),
        "__l": F.filter(F.split(c, r"\n"),
                        lambda x: ~x.rlike(r"^\s*$")),
        "__nsym": F.size(F.regexp_extract_all(
            c, F.lit(r"#|\.\.\.|…"), F.lit(0)))})
    w, ln = F.col("__w"), F.col("__l")
    nw, nl = F.size(w), F.size(ln)
    hits = F.lit(0)
    for s in ("the", "be", "to", "of", "and", "that", "have", "with"):
        hits = hits + F.array_contains(w, F.lit(s)).cast("int")
    m = base.withColumns({
        "n_words": nw,
        "mean_word_len": F.try_divide(
            F.aggregate(w, F.lit(0).cast("long"),
                        lambda a, x: a + F.length(x)),
            nw).cast("double"),
        "symbol_word_ratio": F.try_divide(F.col("__nsym"), nw)
        .cast("double"),
        "bullet_line_frac": F.try_divide(
            F.size(F.filter(ln, lambda x: x.rlike(r"^\s*[-*•‣▪]"))),
            nl).cast("double"),
        "ellipsis_line_frac": F.try_divide(
            F.size(F.filter(ln,
                            lambda x: x.rlike(r"(\.\.\.|…)\s*$"))),
            nl).cast("double"),
        "alpha_word_frac": F.try_divide(
            F.size(F.filter(w, lambda x: x.rlike(r"[A-Za-z]"))),
            nw).cast("double"),
        "stop_word_hits": hits})
    false, true = F.lit(False), F.lit(True)
    keep = ((F.col("n_words") >= 40) & (F.col("n_words") <= 100000)
            & F.coalesce((F.col("mean_word_len") >= 3.0)
                         & (F.col("mean_word_len") <= 10.0), false)
            & F.coalesce(F.col("symbol_word_ratio") <= 0.1, false)
            & F.coalesce(F.col("bullet_line_frac") <= 0.9, true)
            & F.coalesce(F.col("ellipsis_line_frac") <= 0.3, true)
            & F.coalesce(F.col("alpha_word_frac") >= 0.8, false)
            & (F.col("stop_word_hits") >= 1))
    return m.withColumn("keep", keep)


def q217_gate_rate_ingest(spark, sf_dir):
    """Hand streaming keep-rate monitor — the foreachBatch loop a
    user would write from scratch for q217's contract: two
    availableNow waves over fresh scratch dirs, per batch one ids
    anti-join + in-batch id dedup + a hand-spelled Gopher keep
    expression (q217's thresholds: min_words=40, min_stop_words=1,
    engine defaults elsewhere) + a groups-bounded (n_docs, n_keep)
    agg appended under a batch-id replay guard; the report sums the
    state.  Construct-per-run timed (CONSTRUCT_EACH_RUN), so the
    measured wall includes both stream executions on BOTH sides —
    the ratio is the engine layer's overhead over this loop (gate
    registry dispatch, state-schema bridging, stranded/fingerprint
    guards)."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="twin_q217_")
    src, st, ids = (os.path.join(tmp, x) for x in ("src", "st", "ids"))
    ck = os.path.join(tmp, "ck")
    d = _read(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")

    def _has_files(path: str) -> bool:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path))

    def _sink(batch, batch_id):
        s = batch.sparkSession
        if _has_files(ids):
            seen = (s.read.parquet(ids)
                    .select(F.col("doc_id").alias("__seen"))
                    .distinct())
            batch = batch.join(
                seen, batch["doc_id"] == seen["__seen"], "left_anti")
        batch = batch.dropDuplicates(["doc_id"]).persist()
        rows = (_hand_gopher_keeped(batch)
                .select("source", "keep")
                .groupBy("source")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum(F.col("keep").cast("long")).alias("n_keep"))
                .withColumn("batch_id",
                            F.lit(int(batch_id)).cast("long"))
                .withColumn("run_id", F.lit("hand")))
        if _has_files(st):
            done = s.read.parquet(st) \
                .select("run_id", "batch_id").distinct()
            rows = rows.join(done, ["run_id", "batch_id"],
                             "left_anti")
        rows.coalesce(1).write.mode("append").parquet(st)
        batch.select("doc_id").write.mode("append").parquet(ids)
        batch.unpersist(blocking=False)

    def _wave():
        q = (spark.readStream.schema(d.schema).parquet(src)
             .writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    _wave()
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    _wave()
    p4 = lambda x: F.floor(x * 10000 + F.lit(0.5)) / 10000  # noqa: E731
    rep = (spark.read.option("mergeSchema", "true").parquet(st)
           .drop("run_id", "batch_id")
           .filter(F.col("n_docs").isNotNull())
           .groupBy(F.col("source"))
           .agg(F.sum("n_docs").alias("n_docs"),
                F.sum("n_keep").alias("n_keep"))
           .withColumn("keep_rate",
                       F.col("n_keep") / F.col("n_docs").cast("double")))
    return rep.select("source", "n_docs", "n_keep",
                      p4(F.col("keep_rate")).alias("keep_rate"))


def q221_classifier_gate(spark, sf_dir):
    """Hand model-scored gate — the raw ``mapInPandas`` a user
    writes for the q221 contract: inline md5-top-32-bits fake
    scorer (hashlib, spelled from scratch), schema = input +
    (score, keep), then the lossless u32 projection.  The engine
    side adds only its registry/guard plumbing at CONSTRUCTION
    time; the physical plans are identical (Project over one
    MapInPandas over the scan), so the ratio measures pure Arrow
    boundary throughput — the one plan shape the bench never
    covered before r14."""
    from pyspark.sql import types as T
    d = _read(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text")

    def _score(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = np.empty(len(pdf), dtype="float64")
            for i, t in enumerate(pdf["text"].astype(object)):
                out[i] = (int(hashlib.md5(t.encode("utf-8"))
                              .hexdigest()[:8], 16) / 4294967296.0
                          if isinstance(t, str) else np.nan)
            pdf = pdf.copy()
            s = pd.Series(out, index=pdf.index)
            pdf["score"] = s
            pdf["keep"] = s.ge(0.5).fillna(False).astype(bool)
            yield pdf

    sch = T.StructType(list(d.schema.fields) + [
        T.StructField("score", T.DoubleType()),
        T.StructField("keep", T.BooleanType())])
    return d.mapInPandas(_score, sch).select(
        "doc_id", "source",
        F.floor(F.col("score") * F.lit(4294967296.0)).cast("long")
        .alias("score_u32"),
        "keep")


def _hand_c4_cleaned(df, min_sentences=2):
    """Hand-spelled C4 clean at q218's thresholds (line keeps:
    terminal punctuation, no trailing ellipsis, >= 5 words, no
    javascript/policy boilerplate; page keeps: >= min_sentences
    terminators, no brace, no lorem) — the expression battery a
    competent author writes once as columns, shared by the q218
    twin's per-batch sink."""
    c = F.coalesce(F.col("text"), F.lit(""))
    lines = F.filter(F.split(c, r"\n"),
                     lambda ln: ~ln.rlike(r"^\s*$"))

    def ok(ln):
        low = F.lower(ln)
        e = (ln.rlike(r'[.!?"”]\s*$')
             & ~ln.rlike(r"(\.\.\.|…)\s*$")
             & (F.size(F.filter(F.split(ln, r"\s+"),
                                lambda w: w != F.lit(""))) >= 5)
             & ~low.contains("javascript"))
        for p in ("terms of use", "privacy policy", "cookie policy",
                  "uses cookies", "use of cookies", "use cookies"):
            e = e & ~low.contains(p)
        return e

    kept = F.filter(lines, ok)
    clean = F.array_join(kept, "\n")
    n_sent = F.size(F.regexp_extract_all(clean, F.lit(r"[.!?]"),
                                         F.lit(0)))
    keep = ((n_sent >= min_sentences) & ~c.contains("{")
            & ~F.lower(c).contains("lorem ipsum"))
    return df.withColumns({"clean": clean, "keep": keep})


def q218_curation_ingest(spark, sf_dir):
    """Hand streaming curated-corpus materialization with an ids
    sidecar — the foreachBatch loop a user writes from scratch for
    the q218 contract: two availableNow waves over fresh scratch
    dirs; per batch one sidecar anti-join + in-batch id dedup + an
    intent marker (exactly-once protocol) + the hand C4 expression
    battery + the keepers' CLEANED-text store append + the sidecar
    ids append with the NULL epoch-marker row; the report counts
    the store per source.  Construct-per-run timed
    (CONSTRUCT_EACH_RUN) — the measured wall includes both stream
    executions AND both sinks' appends on each side, so the ratio
    is the engine layer's overhead over this loop (registry
    dispatch, fingerprint/stranded guards, crash-recovery
    branching)."""
    import tempfile

    tmp = tempfile.mkdtemp(prefix="twin_q218_")
    src, store, ids = (os.path.join(tmp, x)
                       for x in ("src", "store", "ids"))
    intent, ck = os.path.join(tmp, "ids__intent"), os.path.join(tmp, "ck")
    i, t = F.col("doc_id"), F.col("text")
    dirty = F.concat_ws(
        "\n",
        F.concat(F.substring(t, 1, 40), F.lit(".")),
        F.substring(t, 41, 30),
        F.lit("Too short."),
        F.when(i % 3 == 0,
               F.lit("Please enable javascript to continue here."))
        .otherwise(F.concat(F.substring(t, 71, 40), F.lit("!"))),
        F.when(i % 5 == 0,
               F.concat(F.substring(t, 111, 40), F.lit("?")))
        .otherwise(F.substring(t, 111, 40)),
        F.when(i % 7 == 0, F.lit("a curly { brace"))
        .otherwise(F.lit("")),
        F.when(i % 11 == 0, F.lit("this page is Lorem Ipsum filler"))
        .otherwise(F.lit("")))
    d = _read(spark, sf_dir, "documents") \
        .select("doc_id", "source", dirty.alias("text"))

    def _has_files(path: str) -> bool:
        return os.path.isdir(path) and any(
            f.endswith(".parquet") for f in os.listdir(path))

    def _sink(batch, batch_id):
        s = batch.sparkSession
        rows = batch.dropDuplicates(["doc_id"])
        if _has_files(ids):
            side = s.read.parquet(ids)
            if not side.filter(
                    (F.col("run_id") == "hand")
                    & (F.col("batch_id") == int(batch_id))).isEmpty():
                return                      # committed epoch: replay no-op
            seen = side.select(F.col("__id").alias("__seen")).distinct()
            rows = rows.join(seen, rows["doc_id"] == seen["__seen"],
                             "left_anti").drop("__seen")
        (s.range(1)
         .select(F.lit("hand").alias("run_id"),
                 F.lit(int(batch_id)).cast("long").alias("batch_id"))
         .write.mode("append").parquet(intent))
        # two actions follow and the second must not recompute the
        # anti-join after the first append — same lineage-cut a
        # from-scratch author needs
        rows = rows.localCheckpoint(eager=True)
        gated = _hand_c4_cleaned(rows)
        (gated.filter(F.col("keep"))
         .select("doc_id", "source", F.col("clean").alias("text"))
         .write.mode("append").parquet(store))
        mark = rows.select(F.col("doc_id").alias("__id")).unionByName(
            s.range(1).select(F.lit(None).cast("long").alias("__id")))
        (mark.withColumn("run_id", F.lit("hand"))
         .withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
         .coalesce(1).write.mode("append").parquet(ids))

    def _wave():
        q = (spark.readStream.schema(d.schema).parquet(src)
             .writeStream.foreachBatch(_sink)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()

    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    _wave()
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    _wave()
    return (spark.read.parquet(store)
            .groupBy(F.col("source"))
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.length("text")).alias("total_chars"))
            .select("source", "n_docs", "total_chars"))


TWINS = {
    "q01_pricing_summary": q01_pricing_summary,
    "q04_revenue_by_nation": q04_revenue_by_nation,
    "q05_region_order_stats": q05_region_order_stats,
    "q06_forecast_revenue": q06_forecast_revenue,
    "q16_casts": q16_casts,
    "q25_window_rank": q25_window_rank,
    "q38_neardup_minhash": q38_neardup_minhash,
    "q40_cosine_topk": q40_cosine_topk,
    "q44_sessionize": q44_sessionize,
    "q45_tumbling_window": q45_tumbling_window,
    "q64_tfidf_top_terms": q64_tfidf_top_terms,
    "q75_pack_sequences": q75_pack_sequences,
    "q78_interval_join": q78_interval_join,
    "q95_repetition_metrics": q95_repetition_metrics,
    "q100_kmeans": q100_kmeans,
    "q101_semdedup": q101_semdedup,
    "q73_dedup_canonical": q73_dedup_canonical,
    "q99_lm_perplexity": q99_lm_perplexity,
    "q102_chunk_dedup": q102_chunk_dedup,
    "q106_bloom_semi_join": q106_bloom_semi_join,
    "q114_curation_pipeline": q114_curation_pipeline,
    "q137_duplicate_spans": q137_duplicate_spans,
    "q138_pq_adc_topk": q138_pq_adc_topk,
    "q145_hybrid_search": q145_hybrid_search,
    "q185_weighted_pagerank": q185_weighted_pagerank,
    "q209_curation_pipeline": q209_curation_pipeline,
    "q215_gopher_quality_gate": q215_gopher_quality_gate,
    "q217_gate_rate_ingest": q217_gate_rate_ingest,
    "q221_classifier_gate": q221_classifier_gate,
    "q218_curation_ingest": q218_curation_ingest,
}
