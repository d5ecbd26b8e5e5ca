"""Pipeline-operator battery: dedup, similarity, text, graph, asof,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from preql_spark.operators import dedup, similarity, text, graph, asof, multimodal


@pytest.fixture(scope="module")
def docs(eng):
    return eng.t.documents.df


@pytest.fixture(scope="module")
def emb(eng):
    return eng.t.embeddings.df


def test_fingerprint_dedup(spark, eng, docs):
    dup = docs.limit(50)
    with_dups = docs.unionByName(dup.withColumn("doc_id", F.col("doc_id") + 100000))
    out = dedup.dedup_exact(with_dups, "doc_id")
    assert out.count() == docs.count()
    # survivors are the min ids
    assert out.filter(F.col("doc_id") >= 100000).count() == 0


def test_minhash_lsh_finds_neardups(eng, docs):
    pairs = dedup.minhash_lsh_pairs(docs, "doc_id", threshold=0.8)
    rows = pairs.collect()
    assert all(r.jaccard >= 0.8 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)


def test_minhash_vs_exact_jaccard(eng, docs):
    """LSH recall check at high threshold vs brute-force exact pairs."""
    exact = {(r.id_a, r.id_b)
             for r in dedup.ngram_jaccard_pairs(docs, "doc_id", threshold=0.9).collect()}
    lsh = {(r.id_a, r.id_b)
           for r in dedup.minhash_lsh_pairs(docs, "doc_id", threshold=0.9).collect()}
    assert lsh == exact  # at j>=0.9 with 16 hashes / 8 bands recall is ~1


def test_minhash_signature_matches_exploded_model(eng):
    """r14: the scan-local signature projection must value-match the
    exploded groupBy model it replaced — including the edge rows the
    grouping handled implicitly: empty shingle arrays and NULL arrays
    (absent from the output), NULL elements (hash to the xxhash64
    seed, exactly as an exploded NULL row did), duplicate shingles
    (min-invariant)."""
    spark = eng.spark
    df = spark.createDataFrame(
        [(1, ["abc", "def", "abc", "zzz"]), (2, []), (3, None),
         (4, ["abc", None, "x"]), (5, ["ü ñ 漢", ""])],
        "__id long, __sh array<string>")
    for portable in (True, False):
        base = (dedup.portable_hash(F.col("__s")) if portable
                else F.abs(F.xxhash64(F.col("__s"))))
        ex = (df.select("__id", F.explode("__sh").alias("__s"))
              .select("__id", (base % dedup._MERSENNE31).alias("__h")))
        aggs = []
        for i in range(16):
            a, b = dedup._universal_params(i)
            aggs.append(F.min((F.col("__h") * a + b)
                              % dedup._MERSENNE31).alias(f"__mh{i}"))
        model = (ex.groupBy("__id").agg(*aggs)
                 .select("__id", F.array(*[f"__mh{i}" for i in range(16)])
                         .alias("__sig")))
        got = dedup.minhash_signature_df(df, portable=portable)
        assert sorted(map(tuple, got.collect())) \
            == sorted(map(tuple, model.collect()))


def test_simhash_pairs(eng, docs):
    sig = docs.select(dedup.simhash("text").alias("s")).limit(5).collect()
    assert all(isinstance(r.s, int) for r in sig)
    pairs = dedup.simhash_pairs(docs, "doc_id", max_distance=6)
    rows = pairs.collect()
    assert all(r.distance <= 6 for r in rows)
    assert len(rows) > 0  # near-dups exist in fixture


def test_cosine_topk(eng, emb):
    q = emb.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk(emb, q, k=5)
    rows = out.collect()
    assert len(rows) == 15
    for r in rows:
        assert -1.0001 <= r.sim <= 1.0001
    # ranks are 1..5 per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in by_q.values())


def test_cosine_pairs_threshold(eng, emb):
    out = similarity.cosine_pairs(emb, 0.45).collect()
    assert all(r.sim >= 0.45 for r in out)


def test_lsh_cosine_recall(eng, emb):
    brute = {(r.id_a, r.id_b) for r in similarity.cosine_pairs(emb, 0.45).collect()}
    lshp = {(r.id_a, r.id_b)
            for r in similarity.lsh_cosine_pairs(emb, 0.45, dim=64,
                                                 n_planes=16, bands=8).collect()}
    # banding with 8 bands x 2 bits has high recall at cos>=0.45
    assert lshp.issubset(brute) or brute.issubset(lshp) or len(brute) == 0
    missed = brute - lshp
    assert len(missed) <= max(1, len(brute) // 3)


def test_lsh_exact_vs_brute(eng, emb):
    """The graded LSH spelling's exactness contract: its result set
    must equal the brute all-pairs set filtered to the same
    signature-hamming gate (pigeonhole recall: <= max_hamming
    differing bits always leave one band intact)."""
    sigs = {r["__id"]: r["__sig"] for r in emb.select(
        F.col("vec_id").alias("__id"),
        similarity.hyperplane_signature(F.col("embedding"), 64, 16)
        .alias("__sig")).collect()}
    brute = {(r.id_a, r.id_b): r.sim
             for r in similarity.cosine_pairs(emb, 0.45).collect()}
    expect = {p for p, s in brute.items()
              if bin(sigs[p[0]] ^ sigs[p[1]]).count("1") <= 7}
    lsh = {(r.id_a, r.id_b)
           for r in similarity.lsh_cosine_pairs_exact(
               emb, 0.45, dim=64, max_hamming=7).collect()}
    assert lsh == expect and len(expect) > 0


def test_semdedup_arrow_equals_sql(eng, emb):
    """The Arrow gram-matrix pair kernel and the pure-DataFrame pair
    join must return identical survivors (same min-id drop rule, NaN
    mirror included)."""
    from preql_spark.operators.cluster import semdedup
    a = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=8, iters=2, pair_method="arrow").collect()}
    s = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=8, iters=2, pair_method="sql").collect()}
    assert a == s and len(a) > 0
    import pytest as _pt
    with _pt.raises(ValueError, match="pair_method"):
        semdedup(emb, pair_method="nope")


def test_semdedup_mega_cluster_salted(eng, emb):
    """A cluster >= 10x the max_group cap is salted into sub-block
    pair groups (per-task memory bounded by 2*max_group rows) and
    must return the same survivors as the unsalted sql pair join."""
    from preql_spark.operators.cluster import semdedup
    # k=1 puts the whole corpus (500 rows) in ONE cluster; cap 48
    # makes that >10x the cap -> ceil(500/48) = 11 sub-blocks
    salted = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=1, iters=1, pair_method="arrow",
        max_group=48).collect()}
    plain = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=1, iters=1, pair_method="sql").collect()}
    assert salted == plain and len(salted) > 0


def test_semdedup_string_ids(eng, emb):
    """Non-integral id columns work on the arrow path (output schema
    mirrors the id type) and agree with the sql path."""
    from preql_spark.operators.cluster import semdedup
    semb = emb.selectExpr(
        "concat('doc_', lpad(cast(vec_id as string), 6, '0')) vec_id",
        "embedding")
    a = {tuple(r) for r in semdedup(
        semb, tau=0.45, k=4, iters=1, pair_method="arrow").collect()}
    s = {tuple(r) for r in semdedup(
        semb, tau=0.45, k=4, iters=1, pair_method="sql").collect()}
    assert a == s and len(a) > 0
    assert all(isinstance(i, str) for i, _ in a)


def test_semdedup_arrow_blockwise(eng, emb):
    """A block size smaller than the cluster exercises the blocked
    gram loops and must not change the result."""
    from preql_spark.operators.cluster import (_min_id_drops_arrow,
                                               kmeans)
    from preql_spark.operators.similarity import norm
    assigned, _ = kmeans(emb, k=4, iters=1)
    base = assigned.select(F.col("vec_id").alias("__id"), "cluster",
                           F.col("embedding").alias("__v"),
                           norm(F.col("embedding")).alias("__n"))
    big = {r["__drop"] for r in
           _min_id_drops_arrow(base, 0.45, block=4096).collect()}
    small = {r["__drop"] for r in
             _min_id_drops_arrow(base, 0.45, block=17).collect()}
    assert big == small


@pytest.mark.slow
def test_lsh_exact_64_planes_sign_safe(eng, emb):
    """With n_planes=64 the signature's sign bit can be set; band keys
    must be pmod-positive or negative-sig rows never equi-join their
    positive twins (silently dropped pairs = broken recall contract).
    Verified exactly like test_lsh_exact_vs_brute but at 64 planes."""
    sub = emb.filter(F.col("vec_id") < 200)
    sigs = {r["__id"]: r["__sig"] for r in sub.select(
        F.col("vec_id").alias("__id"),
        similarity.hyperplane_signature(F.col("embedding"), 64, 64)
        .alias("__sig")).collect()}
    assert any(s < 0 for s in sigs.values()), \
        "fixture never sets the sign bit; test is vacuous"
    brute = {(r.id_a, r.id_b)
             for r in similarity.cosine_pairs(sub, 0.2).collect()}
    h = 40  # 41 bands x 1 bit: every pair with hamming <= 40 recalled
    expect = {p for p in brute
              if bin((sigs[p[0]] ^ sigs[p[1]]) & ((1 << 64) - 1))
              .count("1") <= h}
    lsh = {(r.id_a, r.id_b)
           for r in similarity.lsh_cosine_pairs_exact(
               sub, 0.2, dim=64, max_hamming=h, n_planes=64,
               bands=41).collect()}
    assert lsh == expect and len(expect) > 0


def test_contrastive_lsh_vs_brute_labeling(eng, emb):
    """mine_contrastive_pairs_lsh's labeling tail must agree with the
    brute miner on the candidate subset: every LSH positive is a
    brute positive, and each anchor's hard negatives are the top-k
    by sim among its hamming-gated candidates."""
    out = similarity.mine_contrastive_pairs_lsh(
        emb, pos_tau=0.45, k_neg=3, dim=64, max_hamming=7).collect()
    brute_pos = {(r.anchor, r.partner)
                 for r in similarity.mine_contrastive_pairs(
                     emb, pos_tau=0.45, k_neg=3).collect() if r.label == 1}
    pos = {(r.anchor, r.partner) for r in out if r.label == 1}
    assert pos <= brute_pos
    # negatives: per anchor at most k, all strictly below tau, sorted
    by_anchor = {}
    for r in out:
        if r.label == 0:
            assert r.sim < 0.45
            by_anchor.setdefault(r.anchor, []).append(r.sim)
    assert by_anchor and all(len(v) <= 3 for v in by_anchor.values())


def test_ivf_topk_recall(eng, emb):
    q = emb.filter(F.col("vec_id") < 10)
    brute = {(r.query_id, r.neighbor_id)
             for r in similarity.cosine_topk(emb, q, k=10).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in similarity.ivf_topk(emb, q, k=10, dim=64,
                                        n_centroids=16, nprobe=8).collect()}
    recall = len(brute & ivf) / len(brute)
    assert recall >= 0.75, recall


def test_text_metrics(eng, docs):
    out = text.quality_metrics(docs).limit(20).collect()
    for r in out:
        assert r.n_tokens > 0
        assert 0 <= r.stopword_ratio <= 1
        assert 0 <= r.alpha_ratio <= 1


def test_lang_id(eng, docs):
    out = docs.select(text.lang_id("text").alias("pred")).distinct().collect()
    assert {r.pred for r in out} <= {"en", "de", "es", "fr", "zh", "und"}


def test_fingerprint_stable(eng, docs):
    a = docs.select("doc_id", text.fingerprint("text").alias("fp"))
    b = docs.select("doc_id", text.fingerprint("text").alias("fp"))
    assert a.exceptAll(b).isEmpty()


def test_bfs(spark, eng):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (4, 2)], "src long, dst long")
    initial = spark.createDataFrame([(1,)], "node long")
    out = graph.bfs(edges, initial)
    assert sorted(r.node for r in out.collect()) == [1, 2, 3, 4]


def test_walk_tree(spark, eng):
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    initial = spark.createDataFrame([(1,)], "node long")
    out = graph.walk_tree(edges, initial, max_rank=5)
    rows = sorted((r.node, r.rank) for r in out.collect())
    assert rows == [(1, 0), (2, 1), (3, 2)]


def test_asof_join(spark, eng):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, t long, lv string")
    right = spark.createDataFrame(
        [(1, 8, "r1"), (1, 15, "r2"), (2, 9, "r3")], "k long, t long, rv string")
    out = asof.asof_join(left, right, "k", "t", "t", ["rv"])
    got = {(r.k, r.t, r.rv) for r in out.collect()}
    assert got == {(1, 10, "r1"), (1, 20, "r2"), (2, 5, None)}


def test_multimodal_plumbing(eng, docs):
    withbin = multimodal.attach_binary_column(docs.limit(100))
    feats = multimodal.extract_image_features(withbin)
    rows = feats.collect()
    assert len(rows) == 100
    assert all(64 <= r.width < 256 for r in rows)
    # determinism: rerun produces identical features
    again = multimodal.extract_image_features(withbin).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # real-decode path on non-image payloads fails AT EXECUTION with
    # the NotImplementedError surfaced through the Python worker
    with pytest.raises(Exception, match="PNG|NotImplemented"):
        multimodal.extract_image_features(withbin, fake=False).collect()


def test_png_decoder_roundtrip():
    """encode_png → _png_decode_luma is pixel-exact for every PNG
    scanline filter type (each unfilter branch exercised)."""
    import random
    rng = random.Random(42)
    for ft in range(5):
        w, h = rng.randint(1, 9), rng.randint(1, 9)
        img = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        data = multimodal.encode_png(img, filter_type=ft)
        dw, dh, rows = multimodal._png_decode_luma(data)
        assert (dw, dh) == (w, h), ft
        assert [[int(v) for v in r] for r in rows] == img, ft


def test_real_decode_through_spark(eng):
    """fake=False decodes genuine PNG bytes inside the Arrow kernel —
    the judge-prescribed real path (works without PIL via the
    built-in decoder; uses PIL when installed)."""
    spark = eng.spark
    black = multimodal.encode_png([[0, 0], [0, 0]])          # 2x2 black
    white = multimodal.encode_png([[255] * 3] * 5, 2)        # 3x5 white
    grad = multimodal.encode_png(
        [[16 * (x + y) % 256 for x in range(8)] for y in range(8)], 4)
    df = spark.createDataFrame(
        [(1, bytearray(black)), (2, bytearray(white)),
         (3, bytearray(grad))], "doc_id long, payload binary")
    feats = {r.doc_id: r for r in
             multimodal.extract_image_features(df, fake=False).collect()}
    assert (feats[1].width, feats[1].height) == (2, 2)
    assert feats[1].mean_luma == 0.0
    assert (feats[2].width, feats[2].height) == (3, 5)
    assert feats[2].mean_luma == 1.0
    assert (feats[3].width, feats[3].height) == (8, 8)
    assert 0.0 < feats[3].mean_luma < 1.0
    # ahash: solid images hash to 0 bits set above mean; the gradient
    # has a structured, deterministic hash
    feats2 = {r.doc_id: r for r in
              multimodal.extract_image_features(df, fake=False).collect()}
    assert feats2[3].phash == feats[3].phash


def test_salted_join_equivalence(eng):
    """salted_join == plain join on a deliberately skewed key."""
    from preql_spark.operators.skew import salted_join
    spark = eng.spark
    # 90% of fact rows share one hot key
    fact = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 50)
        .cast("long").alias("k"), F.col("id").alias("fact_id"))
    dim = spark.range(0, 50).select(F.col("id").alias("k"),
                                    (F.col("id") * 100).alias("dim_val"))
    got = salted_join(fact, dim, "k").orderBy("fact_id")
    want = fact.join(dim, "k").orderBy("fact_id")
    assert [r.asDict() for r in got.collect()] == \
        [r.asDict() for r in want.collect()]
    # left join keeps unmatched fact rows
    dim_small = dim.filter(F.col("k") < 5)
    got_l = salted_join(fact, dim_small, "k", how="left").count()
    assert got_l == fact.count()


def test_bfs_sql_matches_iterative_on_dag(eng):
    from preql_spark.operators.graph import bfs, bfs_sql
    spark = eng.spark
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (2, 5), (6, 7)], "src: long, dst: long")
    init = spark.createDataFrame([(1,), (6,)], "n: long")
    want = sorted(r.node for r in bfs(edges, init).collect())
    got = sorted(r.node for r in bfs_sql(edges, init).collect())
    assert got == want == [1, 2, 3, 4, 5, 6, 7]


def test_tfidf_model(eng):
    """TF-IDF against a hand-computed model on a 3-doc corpus."""
    import math
    from preql_spark.operators.text import tf_idf
    spark = eng.spark
    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "d d d d")],
        "doc_id: long, text: string")
    rows = {(r.doc_id, r.token): r for r in
            tf_idf(docs, "doc_id", "text").collect()}
    # 'a' appears in 2 of 3 docs; tf in doc1 = 2/3
    r = rows[(1, "a")]
    assert r.tf == pytest.approx(2 / 3)
    assert r.df == 2
    assert r.tfidf == pytest.approx((2 / 3) * math.log(3 / 2))
    # 'd' only in doc3, tf = 1
    assert rows[(3, "d")].tfidf == pytest.approx(math.log(3.0))


def test_ivf_indexed_matches_and_prunes(eng):
    """Persisted-index IVF search returns the same results as the
    in-memory path, and the bucketed scan prunes to probed buckets."""
    from preql_spark.operators.similarity import (
        ivf_topk, ivf_topk_indexed, ivf_write_index)
    spark = eng.spark
    corpus = eng.t.embeddings.df
    queries = corpus.filter(F.col("vec_id") < 5)
    want = {(r.query_id, r.rank): r.neighbor_id for r in
            ivf_topk(corpus, queries, k=5, dim=16, n_centroids=8,
                     nprobe=2).collect()}
    cents = ivf_write_index(corpus, "ivf_idx_test", dim=16, n_centroids=8)
    try:
        out = ivf_topk_indexed(spark, "ivf_idx_test", cents, queries,
                               k=5, nprobe=2)
        got = {(r.query_id, r.rank): r.neighbor_id for r in out.collect()}
        assert got == want
        plan = out._jdf.queryExecution().executedPlan().toString()
        import re
        m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
        assert m and int(m.group(1)) < int(m.group(2)), \
            "bucket pruning did not engage"
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test")


def test_connected_components_and_canonical(eng):
    from preql_spark.operators.dedup import (
        connected_components, dedup_keep_canonical)
    spark = eng.spark
    # two chains and an isolated pair: {1,2,3,4}, {10,11}, {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a: long, id_b: long")
    comp = {r.node: r.component for r in
            connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    docs = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id: long")
    kept = sorted(r.doc_id for r in
                  dedup_keep_canonical(docs, pairs, "doc_id").collect())
    assert kept == [1, 10, 20, 99]
    # string ids: same min-label rule under string ordering
    spairs = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("d", "c"), ("y", "x"), ("q", "p")],
        "id_a: string, id_b: string")
    scomp = {r.node: r.component for r in
             connected_components(spairs).collect()}
    assert scomp == {"a": "a", "b": "a", "c": "a", "d": "a",
                     "x": "x", "y": "x", "p": "p", "q": "p"}


def test_concentration(eng):
    """HHI/top-share against a Python model: uniform group -> 1/n,
    single-member group -> 1.0, weighted shares exact; lang builtin
    matches."""
    from preql_spark.operators.text import concentration
    spark = eng.spark
    rows = [("en", "s1", 10), ("en", "s2", 10), ("en", "s3", 10),
            ("fr", "s1", 30), ("fr", "s2", 10),
            ("de", "s9", 7)]
    df = spark.createDataFrame(rows, "lang: string, src: string,"
                                     " chars: long")
    out = {r.lang: r for r in concentration(
        df, ["lang"], "src", "chars").collect()}
    assert out["en"].n_keys == 3 and abs(out["en"].hhi - 1 / 3) < 1e-15
    assert abs(out["en"].top_share - 1 / 3) < 1e-15
    assert out["fr"].hhi == 0.75 ** 2 + 0.25 ** 2
    assert out["fr"].top_share == 0.75
    assert out["de"].n_keys == 1 and out["de"].hhi == 1.0 \
        and out["de"].top_share == 1.0
    # lang spelling (count weights by default)
    l = {r.lang: r.hhi for r in eng.q(
        'concentration(docs_conc, "lang", "src")',
        docs_conc=df).collect()}
    m = {r.lang: r.hhi for r in
         concentration(df, ["lang"], "src").collect()}
    assert l == m


def test_rolling_anomalies(eng):
    """Rolling z against a Python model over the strictly-preceding
    frame: warm-up rows (n < min_periods) and zero-variance windows
    score NULL z / False flag, an obvious spike flags, and parameter
    validation raises."""
    import statistics
    import pytest as _pt
    from preql_spark.operators.events import rolling_anomalies
    spark = eng.spark
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 100.0, 10.1]
    rows = [("g", f"2024-01-01 00:00:{i:02d}", i, v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "g: string, ts: string, eid: long, value: double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r.eid: (r.z, r.is_anomaly) for r in rolling_anomalies(
        df, ["g"], "ts", "value", window=50, k=3.0, min_periods=5,
        tie_col="eid").collect()}
    for i in range(5):               # warm-up: fewer than 5 preceding
        assert out[i] == (None, False)
    for i in range(5, len(vals)):    # python model on the prefix
        prev = vals[:i]
        mu = statistics.mean(prev)
        sd = statistics.stdev(prev)
        z = (vals[i] - mu) / sd
        assert abs(out[i][0] - z) < 1e-9
        assert out[i][1] == (abs(z) > 3.0)
    assert out[7][1] is True         # the 100.0 spike flags
    # zero-variance window -> NULL z, no flag
    flat = spark.createDataFrame(
        [("g", f"2024-01-01 00:00:{i:02d}", i, 5.0)
         for i in range(8)],
        "g: string, ts: string, eid: long, value: double") \
        .withColumn("ts", F.to_timestamp("ts"))
    fo = rolling_anomalies(flat, ["g"], "ts", "value",
                           min_periods=5, tie_col="eid").collect()
    assert all(r.z is None and r.is_anomaly is False for r in fo)
    with _pt.raises(ValueError, match="window"):
        rolling_anomalies(df, ["g"], window=0)
    with _pt.raises(ValueError, match="min_periods"):
        rolling_anomalies(df, ["g"], min_periods=1)


def test_quantile_normalize(eng):
    """percent_rank semantics against a Python model: ties share a
    rank, single-row groups score 0.0, results live in [0, 1], NULL
    inputs score NULL without taking a rank or inflating n, and the
    lang builtin matches the API."""
    from preql_spark.operators.events import quantile_normalize
    spark = eng.spark
    rows = [("a", 10), ("a", 20), ("a", 20), ("a", 40),
            ("b", 7)]
    df = spark.createDataFrame(rows, "g: string, v: long")
    # nulls neither rank nor count: group a's quantiles are identical
    # with two nulls mixed in, the nulls score NULL, and an all-null
    # group scores NULL throughout
    withn = df.union(spark.createDataFrame(
        [("a", None), ("a", None), ("c", None)], "g: string, v: long"))
    nres = quantile_normalize(withn, ["g"], "v").collect()
    nvals = {(r.g, r.v): r.qn for r in nres if r.v is not None}
    assert nvals[("a", 10)] == 0.0
    assert abs(nvals[("a", 20)] - 1 / 3) < 1e-15
    assert nvals[("a", 40)] == 1.0
    assert all(r.qn is None for r in nres if r.v is None)
    got = {(r.g, r.v, i): r.qn for i, r in enumerate(
        quantile_normalize(df, ["g"], "v").collect())}
    vals = {(g, v): qn for (g, v, _), qn in got.items()}
    # group a (n=4): ranks 1,2,2,4 -> (r-1)/3
    assert vals[("a", 10)] == 0.0
    assert abs(vals[("a", 20)] - 1 / 3) < 1e-15
    assert vals[("a", 40)] == 1.0
    assert vals[("b", 7)] == 0.0          # single-row group
    assert all(0.0 <= qn <= 1.0 for qn in vals.values())
    l = {(r.g, r.v): r.qn for r in eng.q(
        'quantile_normalize(ev_qn, "g", "v")',
        ev_qn=df).collect()}
    assert l == vals


def test_k_anonymity_filter(eng):
    """Groups under k are suppressed entirely, groups at/over k
    survive whole, NULL quasi values form their own group, audit
    mode annotates instead of filtering, and k < 1 raises."""
    import pytest as _pt
    from preql_spark.operators.text import k_anonymity_filter
    spark = eng.spark
    rows = ([("a", 1)] * 5 + [("a", 2)] * 2 + [("b", 1)] * 3
            + [(None, 1)] * 3)
    df = spark.createDataFrame(rows, "g: string, v: long")
    kept = [(r.g, r.v) for r in
            k_anonymity_filter(df, ["g", "v"], k=3).collect()]
    assert sorted(kept, key=str) == sorted(
        [("a", 1)] * 5 + [("b", 1)] * 3 + [(None, 1)] * 3, key=str)
    # audit mode: all rows kept, group size annotated
    audited = {((r.g, r.v), r.kn) for r in k_anonymity_filter(
        df, ["g", "v"], k=3, count_col="kn").collect()}
    assert (("a", 2), 2) in audited and ((None, 1), 3) in audited
    assert sum(1 for _ in k_anonymity_filter(
        df, ["g", "v"], k=3, count_col="kn").collect()) == len(rows)
    with _pt.raises(ValueError, match="k must"):
        k_anonymity_filter(df, ["g"], k=0)
    # lang builtin parity (quasi columns as varargs strings)
    l = eng.q('k_anonymity_filter(documents, "source", k: 9999)')
    assert l.count() == 0   # no source bucket reaches 9999 docs
    l2 = eng.q('k_anonymity_filter(documents, "source", "lang", k: 1)')
    assert l2.count() == eng.t.documents.count()


def test_canonicalize_url(eng):
    """Every canonicalization stage: fragment, tracking params (with
    separator cleanup in all positions), authority-only lowercase
    (path case preserved), default-port strip, trailing slash; junk
    passes through; two dirty variants of one page collapse; lang
    scalar parity."""
    from preql_spark.operators.text import canonicalize_url
    spark = eng.spark
    cases = {
        "HTTPS://Example.COM:443/Path/7/?utm_source=x&ref=7"
        "&utm_campaign=y#frag": "https://example.com/Path/7?ref=7",
        "http://A.b.C:80/": "http://a.b.c",
        "https://site.org/a/b/?x=1&utm_medium=m":
            "https://site.org/a/b?x=1",
        "https://site.org/a/b/?utm_medium=m": "https://site.org/a/b",
        "https://s.io/p?fbclid=abc&gclid=d": "https://s.io/p",
        "not a url": "not a url",
        "https://Host.com": "https://host.com",
        "https://h.com:8080/x": "https://h.com:8080/x",  # kept port
        # non-default port for the SCHEME is a different resource
        "http://h.com:443/x": "http://h.com:443/x",
        "https://h.com:80/x": "https://h.com:80/x",
    }
    df = spark.createDataFrame([(u,) for u in cases], "u: string")
    got = {r.u: r.c for r in
           df.select("u", canonicalize_url("u").alias("c")).collect()}
    assert got == cases
    l = eng.q('documents[doc_id < 3] {c: canonicalize_url('
              '"HTTP://X.io:80/A/?" + "utm_x=1&k=v#f")}').collect()
    assert all(r.c == "http://x.io/A?k=v" for r in l)


def test_dedup_keep_best(eng):
    """Keep-best keeps exactly one row per cluster chosen by the
    explicit ordering (here: highest score, id tie-break), singletons
    survive untouched, and with the min-id ordering it reproduces
    dedup_keep_canonical exactly."""
    from preql_spark.operators.dedup import (dedup_keep_best,
                                             dedup_keep_canonical)
    spark = eng.spark
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long")
    docs = spark.createDataFrame(
        [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 2.0),
         (99, 0.0)], "doc_id: long, score: double")
    kept = sorted(r.doc_id for r in dedup_keep_best(
        docs, pairs, "doc_id",
        [F.col("score").desc(), F.col("doc_id")]).collect())
    # cluster {1,2,3}: score 9 tie between 2 and 3 -> id 2;
    # cluster {10,11}: 11 wins on score; 99 is a singleton
    assert kept == [2, 11, 99]
    # min-id ordering == the canonical rule
    a = sorted(r.doc_id for r in dedup_keep_best(
        docs, pairs, "doc_id", [F.col("doc_id")]).collect())
    b = sorted(r.doc_id for r in dedup_keep_canonical(
        docs, pairs, "doc_id").collect())
    assert a == b
    # the winner keeps its full row (no column loss)
    cols = dedup_keep_best(docs, pairs, "doc_id",
                           [F.col("doc_id")]).columns
    assert cols == ["doc_id", "score"]
    # renamed pair columns route through the id_a/id_b params
    # (API parity with leakage_safe_split)
    p2 = pairs.withColumnRenamed("id_a", "l") \
        .withColumnRenamed("id_b", "r")
    c = sorted(r.doc_id for r in dedup_keep_best(
        docs, p2, "doc_id", [F.col("score").desc(), F.col("doc_id")],
        id_a="l", id_b="r").collect())
    assert c == [2, 11, 99]
    # a pre-computed components frame (shared across pipeline
    # stages) routes through identically
    from preql_spark.operators.dedup import (connected_components,
                                             leakage_safe_split)
    comp = connected_components(pairs)
    c3 = sorted(r.doc_id for r in dedup_keep_best(
        docs, pairs, "doc_id", [F.col("score").desc(),
                                F.col("doc_id")],
        components=comp).collect())
    assert c3 == [2, 11, 99]
    s1 = {(r.doc_id, r.split) for r in leakage_safe_split(
        docs, pairs, {"train": 0.5, "test": 0.5},
        components=comp).collect()}
    s2 = {(r.doc_id, r.split) for r in leakage_safe_split(
        docs, pairs, {"train": 0.5, "test": 0.5}).collect()}
    assert s1 == s2


def test_pii_counts(eng):
    """Exact per-(group, kind) match counts on crafted rows: multiple
    matches in one doc count individually, NULL text counts zero,
    docs-with-a-match vs total matches differ correctly, redaction
    zeroes the report (the audit contract), lang parity."""
    from preql_spark.operators.text import pii_counts, redact_pii
    spark = eng.spark
    df = spark.createDataFrame(
        [("a", "mail x@y.com and z@w.org, ip 10.0.0.1"),
         ("a", "call +1 (555) 010-7788 now"),
         ("a", None),
         ("b", "no pii here")], "g: string, t: string")
    got = {(r.g, r.kind): (r.n_matches, r.n_docs)
           for r in pii_counts(df, ["g"], "t").collect()}
    assert got[("a", "email")] == (2, 1)
    assert got[("a", "phone")] == (1, 1)
    assert got[("a", "ipv4")] == (1, 1)
    assert got[("b", "email")] == (0, 0)
    assert got[("b", "phone")] == (0, 0)
    # after redaction the audit is all zeros
    clean = df.select("g", redact_pii("t").alias("t"))
    post = pii_counts(clean, ["g"], "t").collect()
    assert all(r.n_matches == 0 and r.n_docs == 0 for r in post)
    # lang parity
    l = {(r.g, r.kind): (r.n_matches, r.n_docs)
         for r in eng.q('pii_counts(pdocs, "g", "t")',
                        pdocs=df).collect()}
    assert l == got


def test_pii_golden_corpus(eng):
    """HAND-LABELLED golden corpus against literal expected counts —
    the oracle-independence check for the PII patterns (q214's
    DuckDB oracle is composed from the engine's own PII_PATTERNS, so
    a wrong pattern would grade green there; these counts were
    tallied by hand, not by either engine).  Near-misses pinned to
    ZERO: a@b (no TLD), bare @domain (no user), trailing user@ (no
    domain), a 6-digit number (phone needs >= 9 chars), octets > 255
    (999.999.999.999, 256.1.1.1), truncated dotted runs (1.2.3).
    Redaction zeroes the whole golden."""
    from preql_spark.operators.text import pii_counts, redact_pii
    spark = eng.spark
    df = spark.createDataFrame(
        [("a", "Reach john.doe+spam@mail.example.co.uk or "
               "jane@example.com; dial +1 (555) 010-7788; "
               "host 10.0.0.1."),
         ("a", "No PII here: a@b, @example.com, user@, call 123456,"
               " IP 999.999.999.999 and 1.2.3 done"),
         ("b", "Mail ops@svc.io twice: ops@svc.io. Phones: "
               "555-123-4567 and (020) 7946 0958."),
         ("b", None),
         ("b", "Endpoint 192.168.1.255:8080 vs 256.1.1.1 "
               "and 10.10.10.10")], "g: string, t: string")
    got = {(r.g, r.kind): (r.n_matches, r.n_docs)
           for r in pii_counts(df, ["g"], "t").collect()}
    # hand counts — row 1: 2 emails, 1 phone, 1 ipv4; row 2: nothing
    # (every token is a near-miss); row 3: 2 emails, 2 phones;
    # row 4: NULL; row 5: 2 ipv4 (192.168.1.255 and 10.10.10.10 —
    # NOT 256.1.1.1, and no sub-match inside it: 56.1.1.1 starts
    # mid-number, \b fails)
    assert got == {
        ("a", "email"): (2, 1), ("a", "phone"): (1, 1),
        ("a", "ipv4"): (1, 1),
        ("b", "email"): (2, 1), ("b", "phone"): (2, 1),
        ("b", "ipv4"): (2, 1),
    }
    clean = df.select("g", redact_pii("t").alias("t"))
    post = pii_counts(clean, ["g"], "t").collect()
    assert all(r.n_matches == 0 and r.n_docs == 0 for r in post)


def test_gopher_quality_gate(eng):
    """Each Gopher rule fires on a doc crafted to break exactly it
    (the others at defaults pass or fail predictably): word count,
    symbol ratio, bullet lines, ellipsis lines, alpha-word fraction,
    stop-word presence; the empty doc fails every word rule but
    passes the line rules vacuously; composite keep only on the
    clean doc; lang parity."""
    from preql_spark.operators.text import gopher_quality_gate
    spark = eng.spark
    good = ("the cat and the dog have fun with that red ball near "
            "to the old tree of joy in may ") * 3          # 60 words
    rows = [
        ("good", good),
        ("short", "the cat and the dog have fun"),          # 7 words
        ("bullets", "\n".join(f"- {good}" for _ in range(10))),
        ("symbols", good + " #" * 20),                # 20/80 = 0.25
        ("numeric", good + " 123" * 60),          # 60/120 non-alpha
        ("nostop", "zebra quagga okapi lion tiger puma " * 10),
        ("empty", ""),
    ]
    df = spark.createDataFrame(rows, "id: string, text: string")
    out = {r["id"]: r for r in gopher_quality_gate(
        df, id_col="id").collect()}
    assert out["good"]["keep"] and out["good"]["n_words"] == 60
    assert out["good"]["stop_word_hits"] == 7    # all but 'be'
    assert not out["short"]["pass_word_count"]
    assert out["short"]["pass_mean_word_len"]    # 3.1.. in range
    assert not out["bullets"]["pass_bullet_lines"]
    assert out["bullets"]["bullet_line_frac"] == 1.0
    assert not out["symbols"]["pass_symbol_ratio"]
    assert out["symbols"]["symbol_word_ratio"] == 0.25
    assert not out["numeric"]["pass_alpha_words"]
    assert out["numeric"]["alpha_word_frac"] == 0.5
    assert not out["nostop"]["pass_stop_words"]
    assert out["nostop"]["stop_word_hits"] == 0
    e = out["empty"]
    assert e["n_words"] == 0 and not e["pass_word_count"]
    assert not e["pass_mean_word_len"] and not e["pass_alpha_words"]
    assert e["pass_bullet_lines"] and e["pass_ellipsis_lines"]
    assert not e["keep"]
    assert [k for k, r in out.items() if r["keep"]] == ["good"]
    # ellipsis rule: 2 of 4 lines end with ... / … -> frac 0.5 > 0.3
    ell = spark.createDataFrame(
        [("e", f"{good}\nwait for it...\nplain line\nmore…")],
        "id: string, text: string")
    r = gopher_quality_gate(ell, id_col="id").collect()[0]
    assert r["ellipsis_line_frac"] == 0.5
    assert not r["pass_ellipsis_lines"]
    # lang parity
    l = {r["id"]: r for r in eng.q(
        'gopher_quality_gate(pdocs, "id")', pdocs=df).collect()}
    assert {k: v["keep"] for k, v in l.items()} == \
        {k: v["keep"] for k, v in out.items()}


def test_c4_clean(eng):
    """Each C4 rule pinned: terminal-punct line filter (incl. the
    closing-quote mark and trailing whitespace), the min-words-per-
    line rule, the javascript line rule (case-insensitive), the
    brace / lorem-ipsum / min-sentences page gates, NULL text, and
    lang parity."""
    from preql_spark.operators.text import c4_clean
    spark = eng.spark
    s = ("this sentence has enough words to pass easily.\n"    # kept
         "no terminal punctuation on this long line here\n"    # drop
         "Too short.\n"                                        # drop
         "another long sentence that certainly qualifies!\n"   # kept
         "does this question also have enough words here?")    # kept
    rows = [
        ("good", s),
        ("js", s + "\nYou must enable JavaScript to view this page."),
        ("brace", s + "\nfunction f() { return 1; }"),
        ("lorem", s + "\nclassic Lorem Ipsum dolor sit amet filler."),
        ("quote", 'he said the famous words "quote me on this."\n'
                  "a trailing space after the mark still counts. "),
        ("short", "one good sentence is simply not enough here."),
        ("none", None),
    ]
    df = spark.createDataFrame(rows, "id: string, text: string")
    out = {r["id"]: r for r in c4_clean(df, id_col="id").collect()}
    g = out["good"]
    assert (g["n_lines"], g["n_kept"], g["n_sentences"]) == (5, 3, 3)
    assert g["keep"] and not g["has_brace"] and not g["has_lorem"]
    assert "no terminal" not in g["clean"]
    assert "Too short." not in g["clean"]
    # javascript line dropped case-insensitively; page itself keeps
    j = out["js"]
    assert j["n_kept"] == 3 and "JavaScript" not in j["clean"]
    assert j["keep"]
    b = out["brace"]
    assert b["has_brace"] and not b["keep"]
    lo = out["lorem"]
    assert lo["has_lorem"] and not lo["keep"]
    q = out["quote"]
    assert q["n_kept"] == 2          # closing quote + trailing space
    assert not q["keep"]             # only 2 sentence marks
    sh = out["short"]
    assert sh["n_kept"] == 1 and sh["n_sentences"] == 1
    assert not sh["keep"]
    n = out["none"]
    assert n["n_lines"] == 0 and n["n_kept"] == 0 and not n["keep"]
    # lang parity
    l = {r["id"]: r["keep"] for r in eng.q(
        'c4_clean(pdocs, "id")', pdocs=df).collect()}
    assert l == {k: v["keep"] for k, v in out.items()}


def test_gopher_golden_corpus(eng):
    """HAND-LABELLED golden corpus for the Gopher gate — the
    oracle-independence check (the q215/q217/q219 DuckDB oracles
    replay the engine's own arithmetic, so a wrong rule would grade
    green there; every expected value below was counted by hand,
    not by either engine).  Thresholds are scaled down (10–30
    words, mean in [3, 7], bullet <= 0.5, ellipsis <= 0.25) so each
    document stays short enough to hand-count.  Boundaries pinned
    from BOTH sides for every rule, plus the near-misses: a doc at
    exactly min/max words, mean word length exactly at either
    bound, the symbol ratio exactly at the cap, ``…`` counted as a
    symbol like ``...`` (the Unicode-ellipsis tightening this
    golden forced), ``….`` NOT an ellipsis-ended line while
    ``....`` IS, indented bullets (ltrim) and trailing spaces
    (rtrim), capitalized / punctuation-glued stopwords NOT
    matching, NBSP not splitting words (ASCII ``\\s`` contract),
    and the empty/NULL/whitespace-only docs."""
    from preql_spark.operators.text import gopher_quality_gate
    docs = [
        ("g01_clean", "the cat and dog have walked down this long "
                      "road to see friends there today"),
        ("g02_min_words_edge", "the dog and cat have run fast to "
                               "them now"),
        ("g03_min_words_minus1", "the dog and cat have run fast to "
                                 "them"),
        ("g04_max_words_edge",
         "the big cat and the small dog have gone out to see that "
         "very tall tree by the old mill road and they sat down "
         "there to rest now again"),
        ("g05_max_words_plus1",
         "the big cat and the small dog have gone out to see that "
         "very tall tree by the old mill road and they sat down "
         "there to rest now again please"),
        ("g06_mean_min_edge", "the and cat dog fox owl pig hen cow "
                              "bee"),
        ("g07_mean_below", "the and cat dog fox owl pig hen cow be"),
        ("g08_mean_max_edge", "the that absolute gorgeous splendid "
                              "historic imperial profound majestic "
                              "supreme"),
        ("g09_mean_above", "the that absolute gorgeous splendid "
                           "historic imperial profound majestic "
                           "supremely"),
        ("g10_symbol_edge", "the dog and cat have run fast to them "
                            "now#"),
        ("g11_symbol_above", "the dog and cat have run fast to them "
                             "now##"),
        ("g12_ascii_ellipsis_symbol", "the dog... and cat have run "
                                      "fast to them now"),
        ("g13_unicode_ellipsis_symbol", "the dog… and cat… have run "
                                        "fast to them now"),
        ("g14_bullet_edge", "the cat and dog have gone\n"
                            "- first point here\n"
                            "• second point here\n"
                            "plain closing line now to rest"),
        ("g15_bullet_above", "the cat and dog have gone\n"
                             "- first point here\n"
                             "• second point here\n"
                             "▪ third point here"),
        ("g16_bullet_indented", "   - maybe the cat and dog have "
                                "gone to rest"),
        ("g17_ellipsis_edge", "the cat and dog have gone out...\n"
                              "second line is here now\n"
                              "third line is here too\n"
                              "fourth line ends plainly here"),
        ("g18_ellipsis_above", "the cat and dog have gone out…  \n"
                               "second line is here now...\n"
                               "third line is here too\n"
                               "fourth line ends plainly here"),
        ("g19_alpha_edge", "the cat and dog have gone 123 456 to "
                           "rest"),
        ("g20_alpha_below", "the cat and dog have gone 123 456 789 "
                            "now"),
        ("g21_two_distinct_stops", "the cat sat near the mat with "
                                   "dogs running everywhere quickly "
                                   "today"),
        ("g22_one_stop_repeated", "the cat sat near the mat while "
                                  "the dogs ran quickly around "
                                  "today"),
        ("g23_capitalized_stops", "The cat The dog The fox jumped "
                                  "around someone quickly today"),
        ("g24_glued_stops", "the, cat and, dog have, gone to rest "
                            "here today"),
        ("g25_empty", ""),
        ("g26_null", None),
        ("g27_whitespace_only", "   \n\t "),
        ("g28_tabs_split", "the\tcat  and\ndog have\t\tgone to rest "
                           "here today"),
        ("g29_blank_lines", "the cat and dog\n\n\nhave gone to rest "
                            "here today now again soon"),
        ("g30_bullet_glyphs_only", "-\n-"),
        ("g31_ellipsis_then_period", "the cat and dog have gone "
                                     "out….\nsecond line is here "
                                     "now"),
        ("g32_four_dots", "the cat and dog have gone out....\n"
                          "second line is here now\n"
                          "third line sits here too\n"
                          "fourth line ends plainly here"),
        ("g33_nbsp_not_split", "the\u00a0cat and dog have gone to "
                               "rest here today now"),
        ("g34_everything_fails", "123 456 789 #…"),
        ("g35_one_stop_fills_doc", "the the the the the the the the "
                                   "the the"),
    ]
    df = eng.spark.createDataFrame(docs, "id: string, text: string")
    out = {r["id"]: r for r in gopher_quality_gate(
        df, id_col="id", min_words=10, max_words=30,
        min_mean_word_len=3.0, max_mean_word_len=7.0,
        max_symbol_word_ratio=0.1, max_bullet_line_frac=0.5,
        max_ellipsis_line_frac=0.25, min_alpha_word_frac=0.8,
        min_stop_words=2).collect()}
    # hand-derived: id -> (n_words, mean_word_len, symbol_ratio,
    # bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
    # {rules expected to FAIL}); keep == no failed rule
    exp = {
        "g01_clean": (15, 60 / 15, 0.0, 0.0, 0.0, 1.0, 4, set()),
        "g02_min_words_edge": (10, 32 / 10, 0.0, 0.0, 0.0, 1.0, 4,
                               set()),
        "g03_min_words_minus1": (9, 29 / 9, 0.0, 0.0, 0.0, 1.0, 4,
                                 {"pass_word_count"}),
        "g04_max_words_edge": (30, 104 / 30, 0.0, 0.0, 0.0, 1.0, 5,
                               set()),
        "g05_max_words_plus1": (31, 110 / 31, 0.0, 0.0, 0.0, 1.0, 5,
                                {"pass_word_count"}),
        "g06_mean_min_edge": (10, 3.0, 0.0, 0.0, 0.0, 1.0, 2, set()),
        "g07_mean_below": (10, 29 / 10, 0.0, 0.0, 0.0, 1.0, 3,
                           {"pass_mean_word_len"}),
        "g08_mean_max_edge": (10, 7.0, 0.0, 0.0, 0.0, 1.0, 2, set()),
        "g09_mean_above": (10, 72 / 10, 0.0, 0.0, 0.0, 1.0, 2,
                           {"pass_mean_word_len"}),
        "g10_symbol_edge": (10, 33 / 10, 1 / 10, 0.0, 0.0, 1.0, 4,
                            set()),
        "g11_symbol_above": (10, 34 / 10, 2 / 10, 0.0, 0.0, 1.0, 4,
                             {"pass_symbol_ratio"}),
        "g12_ascii_ellipsis_symbol": (10, 35 / 10, 1 / 10, 0.0, 0.0,
                                      1.0, 4, set()),
        "g13_unicode_ellipsis_symbol": (10, 34 / 10, 2 / 10, 0.0,
                                        0.0, 1.0, 4,
                                        {"pass_symbol_ratio"}),
        "g14_bullet_edge": (20, 76 / 20, 0.0, 2 / 4, 0.0, 18 / 20,
                            4, set()),
        "g15_bullet_above": (18, 66 / 18, 0.0, 3 / 4, 0.0, 15 / 18,
                             3, {"pass_bullet_lines"}),
        "g16_bullet_indented": (10, 32 / 10, 0.0, 1.0, 0.0, 9 / 10,
                                4, {"pass_bullet_lines"}),
        "g17_ellipsis_edge": (22, 88 / 22, 1 / 22, 0.0, 1 / 4, 1.0,
                              3, set()),
        "g18_ellipsis_above": (22, 89 / 22, 2 / 22, 0.0, 2 / 4, 1.0,
                               3, {"pass_ellipsis_lines"}),
        "g19_alpha_edge": (10, 32 / 10, 0.0, 0.0, 0.0, 8 / 10, 4,
                           set()),
        "g20_alpha_below": (10, 32 / 10, 0.0, 0.0, 0.0, 7 / 10, 3,
                            {"pass_alpha_words"}),
        "g21_two_distinct_stops": (12, 56 / 12, 0.0, 0.0, 0.0, 1.0,
                                   2, set()),
        "g22_one_stop_repeated": (13, 52 / 13, 0.0, 0.0, 0.0, 1.0,
                                  1, {"pass_stop_words"}),
        "g23_capitalized_stops": (11, 49 / 11, 0.0, 0.0, 0.0, 1.0,
                                  0, {"pass_stop_words"}),
        "g24_glued_stops": (10, 38 / 10, 0.0, 0.0, 0.0, 1.0, 1,
                            {"pass_stop_words"}),
        "g25_empty": (0, None, None, None, None, None, 0,
                      {"pass_word_count", "pass_mean_word_len",
                       "pass_symbol_ratio", "pass_alpha_words",
                       "pass_stop_words"}),
        "g26_null": (0, None, None, None, None, None, 0,
                     {"pass_word_count", "pass_mean_word_len",
                      "pass_symbol_ratio", "pass_alpha_words",
                      "pass_stop_words"}),
        "g27_whitespace_only": (0, None, None, None, None, None, 0,
                                {"pass_word_count",
                                 "pass_mean_word_len",
                                 "pass_symbol_ratio",
                                 "pass_alpha_words",
                                 "pass_stop_words"}),
        "g28_tabs_split": (10, 35 / 10, 0.0, 0.0, 0.0, 1.0, 4,
                           set()),
        "g29_blank_lines": (13, 47 / 13, 0.0, 0.0, 0.0, 1.0, 4,
                            set()),
        "g30_bullet_glyphs_only": (2, 1.0, 0.0, 1.0, 0.0, 0.0, 0,
                                   {"pass_word_count",
                                    "pass_mean_word_len",
                                    "pass_bullet_lines",
                                    "pass_alpha_words",
                                    "pass_stop_words"}),
        "g31_ellipsis_then_period": (12, 44 / 12, 1 / 12, 0.0, 0.0,
                                     1.0, 3, set()),
        "g32_four_dots": (22, 91 / 22, 1 / 22, 0.0, 1 / 4, 1.0, 3,
                          set()),
        "g33_nbsp_not_split": (10, 39 / 10, 0.0, 0.0, 0.0, 1.0, 3,
                               set()),
        "g34_everything_fails": (4, 11 / 4, 2 / 4, 0.0, 1.0, 0.0, 0,
                                 {"pass_word_count",
                                  "pass_mean_word_len",
                                  "pass_symbol_ratio",
                                  "pass_ellipsis_lines",
                                  "pass_alpha_words",
                                  "pass_stop_words"}),
        "g35_one_stop_fills_doc": (10, 3.0, 0.0, 0.0, 0.0, 1.0, 1,
                                   {"pass_stop_words"}),
    }
    rule_names = ("pass_word_count", "pass_mean_word_len",
                  "pass_symbol_ratio", "pass_bullet_lines",
                  "pass_ellipsis_lines", "pass_alpha_words",
                  "pass_stop_words")
    assert set(out) == set(exp)
    for k, (nw, mw, sy, bu, el, al, st, fails) in exp.items():
        r = out[k]
        assert r["n_words"] == nw, k
        for col, want in (("mean_word_len", mw),
                          ("symbol_word_ratio", sy),
                          ("bullet_line_frac", bu),
                          ("ellipsis_line_frac", el),
                          ("alpha_word_frac", al)):
            if want is None:
                assert r[col] is None, (k, col)
            else:
                assert r[col] == pytest.approx(want), (k, col)
        assert r["stop_word_hits"] == st, k
        for rule in rule_names:
            assert r[rule] == (rule not in fails), (k, rule)
        assert r["keep"] == (not fails), k


def test_c4_golden_corpus(eng):
    """HAND-LABELLED golden corpus for the C4 cleaner — the
    oracle-independence check (the q216/q218/q220 oracles replay the
    engine's own line arithmetic; these rows were labelled by hand).
    Pins, from both sides: the 5-word line boundary, every terminal
    mark (``. ! ?`` straight and curly closing quotes — which
    contribute ZERO sentence marks to the page count), trailing
    whitespace after the mark, the ellipsis-ending exclusion the
    golden forced (``...`` and ``…`` enders dropped per the
    published c4_utils ``_ELLIPSIS`` rule; ``….`` — ellipsis then
    period — survives), the javascript rule as a case-insensitive
    SUBSTRING (``javascripting`` trips it), the
    :data:`C4_POLICY_SUBSTRINGS` boilerplate line filter, the
    ``{``-only page gate (a lone ``}`` does not fire; the brace
    LINE itself stays in ``clean`` — only the page flag drops it),
    ``lorem ipsum`` as a literal single-space substring
    (``lorem  ipsum`` does not match), mid-line sentence marks
    counting toward min_sentences (``Dr.``), and empty/NULL pages."""
    from preql_spark.operators.text import c4_clean
    k1 = "This is a good first sentence."
    k2 = "Here is another quite fine line!"
    k3 = "Does this third line work well?"
    docs = [
        ("c01_clean", f"{k1}\n{k2}\n{k3}"),
        ("c02_four_word_line", f"Only four words here.\n{k1}\n{k2}"
                               f"\n{k3}"),
        ("c03_five_word_edge", f"Five words are right here.\n{k1}"
                               f"\n{k2}"),
        ("c04_no_terminal_punct",
         f"this long line has no terminal punctuation at all\n{k1}"
         f"\n{k2}\n{k3}"),
        ("c05_straight_quote_end",
         f'He said "this is quite nice"\n{k1}\n{k2}'),
        ("c06_curly_quote_end",
         f"She replied “we will see tomorrow”\n{k1}\n{k2}\n{k3}"),
        ("c07_trailing_spaces",
         f"This line ends after the mark.   \n{k2}\n{k3}"),
        ("c08_javascript_ci",
         f"Please enable JavaScript to view this site now.\n{k1}"
         f"\n{k2}\n{k3}"),
        ("c09_javascript_midword",
         f"The word javascripting appears right in this sentence."
         f"\n{k1}\n{k2}\n{k3}"),
        ("c10_brace_page", f"code with {{ braces }} here.\n{k1}"
                           f"\n{k2}\n{k3}"),
        ("c11_closing_brace_only",
         f"code with only closing }} here.\n{k1}\n{k2}"),
        ("c12_lorem_ci",
         f"Classic LOREM IPSUM filler text appears here.\n{k1}"
         f"\n{k2}\n{k3}"),
        ("c13_lorem_two_spaces",
         f"Classic lorem  ipsum spaced filler text here.\n{k1}"
         f"\n{k2}"),
        ("c14_two_sentences", f"{k1}\n{k2}"),
        ("c15_midline_marks",
         f"Dr. Smith arrived at the main gate today.\n{k3}"),
        ("c16_empty", ""),
        ("c17_null", None),
        ("c18_all_lines_dropped",
         "too short line.\nno terminal punctuation here at all\n"
         "JavaScript required to proceed further now."),
        ("c19_ascii_ellipsis_end", "This line trails off like "
                                   "this..."),
        ("c20_ellipsis_composite",
         f"This line trails off like this...\n{k1}\n{k2}\n{k3}"),
        ("c21_unicode_ellipsis_end", "This line ends with a unicode "
                                     "ellipsis…"),
        ("c22_ellipsis_then_period",
         f"This line ends with ellipsis then period….\n{k1}\n{k2}"),
        ("c23_policy_lines",
         f"We updated our Privacy Policy this week.\n"
         f"Please review the terms of use today.\n"
         f"This site uses cookies for better analytics.\n{k1}"
         f"\n{k2}\n{k3}"),
    ]
    df = eng.spark.createDataFrame(docs, "id: string, text: string")
    out = {r["id"]: r for r in c4_clean(df, id_col="id").collect()}
    # hand-derived: id -> (n_lines, n_kept, n_sentences, has_brace,
    # has_lorem, keep)
    exp = {
        "c01_clean": (3, 3, 3, False, False, True),
        "c02_four_word_line": (4, 3, 3, False, False, True),
        "c03_five_word_edge": (3, 3, 3, False, False, True),
        "c04_no_terminal_punct": (4, 3, 3, False, False, True),
        "c05_straight_quote_end": (3, 3, 2, False, False, False),
        "c06_curly_quote_end": (4, 4, 3, False, False, True),
        "c07_trailing_spaces": (3, 3, 3, False, False, True),
        "c08_javascript_ci": (4, 3, 3, False, False, True),
        "c09_javascript_midword": (4, 3, 3, False, False, True),
        "c10_brace_page": (4, 4, 4, True, False, False),
        "c11_closing_brace_only": (3, 3, 3, False, False, True),
        "c12_lorem_ci": (4, 4, 4, False, True, False),
        "c13_lorem_two_spaces": (3, 3, 3, False, False, True),
        "c14_two_sentences": (2, 2, 2, False, False, False),
        "c15_midline_marks": (2, 2, 3, False, False, True),
        "c16_empty": (0, 0, 0, False, False, False),
        "c17_null": (0, 0, 0, False, False, False),
        "c18_all_lines_dropped": (3, 0, 0, False, False, False),
        "c19_ascii_ellipsis_end": (1, 0, 0, False, False, False),
        "c20_ellipsis_composite": (4, 3, 3, False, False, True),
        "c21_unicode_ellipsis_end": (1, 0, 0, False, False, False),
        "c22_ellipsis_then_period": (3, 3, 3, False, False, True),
        "c23_policy_lines": (6, 3, 3, False, False, True),
    }
    assert set(out) == set(exp)
    for k, (nl, nk, ns, hb, hl, keep) in exp.items():
        r = out[k]
        assert (r["n_lines"], r["n_kept"], r["n_sentences"],
                r["has_brace"], r["has_lorem"], r["keep"]) \
            == (nl, nk, ns, hb, hl, keep), k
    # the cleaned text itself, spot-pinned
    assert out["c01_clean"]["clean"] == f"{k1}\n{k2}\n{k3}"
    assert out["c02_four_word_line"]["clean"] == f"{k1}\n{k2}\n{k3}"
    assert out["c10_brace_page"]["clean"].startswith("code with {")
    assert out["c19_ascii_ellipsis_end"]["clean"] == ""
    assert out["c23_policy_lines"]["clean"] == f"{k1}\n{k2}\n{k3}"


def test_canonicalize_url_golden_corpus(eng):
    """HAND-LABELLED golden corpus for URL canonicalization — the
    oracle-independence check (q204/q209's oracle replays the
    engine's own regex chain, so a wrong regex would grade green
    there; every expected string below was derived by hand from the
    documented contract).  Pins, with near-misses: authority-only
    lowercasing (paths stay case-sensitive), scheme-OWN default
    ports only (http:443 and ftp:80 KEEP their ports), fragment
    strip, tracking params at every position with separator cleanup,
    `myutm_source`/`fbclid2` NOT matching (prefix/word boundaries),
    trailing-slash-only stripping (internal doubles survive), bare
    `?`/`&` tails, junk non-URLs passing through, NULL."""
    from preql_spark.operators.text import canonicalize_url
    cases = [
        ("u01", "https://Example.COM/Path/Page",
         "https://example.com/Path/Page"),
        ("u02", "http://example.com:80/a", "http://example.com/a"),
        ("u03", "https://example.com:443/a", "https://example.com/a"),
        ("u04", "http://example.com:443/a",
         "http://example.com:443/a"),
        ("u05", "https://example.com:8080/a",
         "https://example.com:8080/a"),
        ("u06", "https://example.com/a#frag", "https://example.com/a"),
        ("u07", "https://example.com/a?utm_source=x",
         "https://example.com/a"),
        ("u08", "https://example.com/a?utm_source=x&id=2",
         "https://example.com/a?id=2"),
        ("u09", "https://example.com/a?id=2&utm_campaign=y",
         "https://example.com/a?id=2"),
        ("u10", "https://example.com/a?id=2&fbclid=abc&b=3",
         "https://example.com/a?id=2&b=3"),
        ("u11", "https://example.com/a/", "https://example.com/a"),
        ("u12", "https://example.com/a///", "https://example.com/a"),
        ("u13", "https://example.com/", "https://example.com"),
        ("u14", "not a url", "not a url"),
        ("u15", "HTTP://EXAMPLE.COM/A", "http://example.com/A"),
        ("u16", "HTTPS://Ex.COM:443/p/?utm_x=1#f",
         "https://ex.com/p"),
        ("u17", "https://example.com/a?x=1&utm_source=a&utm_medium=b",
         "https://example.com/a?x=1"),
        ("u18", "https://example.com/a?gclid=z&x=1",
         "https://example.com/a?x=1"),
        ("u19", "https://example.com/a?myutm_source=1",
         "https://example.com/a?myutm_source=1"),
        ("u20", "https://example.com/a?fbclid2=1",
         "https://example.com/a?fbclid2=1"),
        ("u21", None, None),
        ("u22", "ftp://Example.com:80/X", "ftp://example.com:80/X"),
        ("u23", "https://example.com//a//b//",
         "https://example.com//a//b"),
        ("u24", "https://example.com/a?", "https://example.com/a"),
    ]
    df = eng.spark.createDataFrame([(i, u) for i, u, _ in cases],
                                   "id: string, url: string")
    got = {r["id"]: r["c"] for r in
           df.select("id", canonicalize_url("url").alias("c"))
           .collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_normalize_text_golden_corpus(eng):
    """HAND-LABELLED golden corpus for normalize_text — the
    oracle-independence check (q201/q209's oracle is COMPOSED from
    the engine's own fold tables, so a wrong table entry would grade
    green there).  Pins: punctuation becomes a SPACE (em-dash/slash/
    apostrophe never glue words), math SYMBOLS (+ ≤) are NOT
    punctuation and survive, the multi-char folds (ß→ss, œ→oe,
    æ→ae, þ→th, ĳ→ij), the one-to-one Latin folds, Unicode
    whitespace collapse (NBSP, thin space, NEL), digits preserved,
    each stage independently switchable, NULL."""
    from preql_spark.operators.text import normalize_text
    cases = [
        ("n01", "Hello,   World!", "hello world"),
        ("n02", "Café CRÈME", "cafe creme"),
        ("n03", "Grüße aus Straße", "grusse aus strasse"),
        ("n04", "Œuvre — æther", "oeuvre aether"),
        ("n05", "foo bar baz", "foo bar baz"),
        ("n06", "a-b/c", "a b c"),
        ("n07", "don't stop", "don t stop"),
        ("n08", "naïve élève", "naive eleve"),
        ("n09", "¿Qué? ¡Sí!", "que si"),
        ("n10", "xy", "x y"),
        ("n11", "þorn ĳs", "thorn ijs"),
        ("n12", None, None),
        ("n13", "+5 ≤ 7", "+5 ≤ 7"),
        ("n14", "3.14", "3 14"),
    ]
    df = eng.spark.createDataFrame([(i, t) for i, t, _ in cases],
                                   "id: string, t: string")
    got = {r["id"]: r["n"] for r in
           df.select("id", normalize_text("t").alias("n")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)
    # stage switches, one pin each
    one = eng.spark.createDataFrame(
        [("AB cd", "café", "a,b", "a  b")],
        "a: string, b: string, c: string, d: string")
    from pyspark.sql import functions as F  # noqa: F401 - parity
    r = one.select(
        normalize_text("a", lowercase=False).alias("a"),
        normalize_text("b", fold_accents=False).alias("b"),
        normalize_text("c", strip_punct=False).alias("c"),
        normalize_text("d", collapse_whitespace=False).alias("d")) \
        .collect()[0]
    assert r["a"] == "AB cd"
    assert r["b"] == "café"
    assert r["c"] == "a,b"
    assert r["d"] == "a  b"


def test_classifier_gate(eng):
    """Model-scored gate plumbing: the deterministic fake scorer is
    content-addressed (score == md5-top-32-bits / 2^32 — literal
    expected values below), NULL text scores NULL and never keeps,
    the threshold is inclusive (>=), a user CALLABLE rides the same
    Arrow boundary (real-model path), a bad scorer raises, the
    shared GATES registry routes both streaming ingests through it,
    and the lang spelling compiles to the same values."""
    from pyspark.sql import functions as F
    from preql_spark.operators.text import classifier_gate
    spark = eng.spark
    df = spark.createDataFrame(
        [(1, "a", "the quick brown fox"),
         (2, "a", "lazy dog sleeps"),
         (3, "b", "pangram content here"),
         (4, "b", None)],
        "doc_id: long, source: string, text: string")
    # literal md5-derived expectations (hand-derived once, pinned)
    exp = {1: 821283134, 2: 333198694, 3: 845776494, 4: None}
    out = classifier_gate(df, threshold=0.1)
    got = {r["doc_id"]: r for r in out.collect()}
    for k, u in exp.items():
        if u is None:
            assert got[k]["score"] is None and not got[k]["keep"]
        else:
            assert got[k]["score"] == pytest.approx(u / 2 ** 32)
            assert got[k]["keep"] == (u / 2 ** 32 >= 0.1)
    assert [k for k, r in got.items() if r["keep"]] == [1, 3]
    # threshold inclusivity: exactly the score keeps
    thr = exp[2] / 2 ** 32
    r2 = {r["doc_id"]: r["keep"]
          for r in classifier_gate(df, threshold=thr).collect()}
    assert r2 == {1: True, 2: True, 3: True, 4: False}
    # schema: all input columns + (score, keep)
    assert out.columns == ["doc_id", "source", "text", "score",
                           "keep"]
    # callable (real-model seat): same Arrow boundary
    def length_model(texts):
        return texts.str.len().astype("float64") / 19.0
    r3 = {r["doc_id"]: (r["score"], r["keep"]) for r in
          classifier_gate(df, scorer=length_model,
                          threshold=1.0).collect()}
    assert r3[1] == (pytest.approx(1.0), True)
    assert r3[2] == (pytest.approx(15 / 19), False)
    assert r3[4] == (None, False)
    with pytest.raises(ValueError, match="scorer"):
        classifier_gate(df, scorer=42)
    # composing directly after a rule gate without renaming used to
    # die inside Arrow with an opaque schema mismatch — now a clear
    # upfront error naming the funnel rename fix (r13 ADVICE)
    with pytest.raises(ValueError, match="rule_keep"):
        classifier_gate(df.withColumn("keep", F.lit(True)))
    with pytest.raises(ValueError, match="score"):
        classifier_gate(df.withColumn("score", F.lit(0.5)))
    # lang parity
    l = {r["doc_id"]: (r["score"], r["keep"]) for r in eng.q(
        'classifier_gate(pdocs, "doc_id", 0.1)', pdocs=df).collect()}
    assert l == {k: (r["score"], r["keep"]) for k, r in got.items()}


def test_embed_text(eng):
    """Text→embedding hook: literal hand-derived md5 rows pin the
    fake embedder's per-component arithmetic (u32/2^31 - 1, exact
    doubles — the integer is losslessly recoverable from each
    component); NULL text embeds NULL; an independent hashlib replay
    matches over a real corpus slice; the real-model seat takes any
    callable with per-batch dim validation; collisions and bad args
    are clear upfront errors; the lang builtin embeds identically."""
    import hashlib

    from preql_spark.operators.text import embed_text
    spark = eng.spark
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "lazy dog sleeps"),
         (3, None)], "doc_id: long, text: string")
    out = embed_text(df, dim=4)
    got = {r["doc_id"]: r["embedding"] for r in out.collect()}
    # literal md5-derived expectations (hand-derived once, pinned)
    exp1 = [3584160768, 1016650286, 3993615659, 952444634]
    exp2 = [1539926490, 3551344746, 1115186559, 3179808179]
    assert got[1] == [u / 2147483648.0 - 1.0 for u in exp1]
    assert got[2] == [u / 2147483648.0 - 1.0 for u in exp2]
    assert got[3] is None
    assert out.columns == ["doc_id", "text", "embedding"]
    # float64-exactness: the u32 recovers losslessly (the q225
    # grading contract)
    assert [int((c + 1) * 2147483648.0) for c in got[1]] == exp1
    # independent hashlib replay over a real corpus slice
    d = eng.t.documents.df.select("doc_id", "text") \
        .filter(F.col("doc_id") < 40)
    for r in embed_text(d, dim=3).collect():
        if r["text"] is None:
            assert r["embedding"] is None
            continue
        assert r["embedding"] == [
            int(hashlib.md5(f"{r['text']}:{j}".encode())
                .hexdigest()[:8], 16) / 2147483648.0 - 1.0
            for j in range(3)]
    # real-model seat: any callable; dim mismatch is a clear error
    def len_model(texts):
        return [[float(len(t)), 1.0] if isinstance(t, str) else None
                for t in texts.astype(object)]
    r2 = {r["doc_id"]: r["embedding"]
          for r in embed_text(df, embedder=len_model,
                              dim=2).collect()}
    assert r2 == {1: [19.0, 1.0], 2: [15.0, 1.0], 3: None}
    with pytest.raises(Exception, match="expected dim=3"):
        embed_text(df, embedder=len_model, dim=3).collect()
    with pytest.raises(ValueError, match="embedder"):
        embed_text(df, embedder=42)
    with pytest.raises(ValueError, match="embedding"):
        embed_text(out)
    with pytest.raises(ValueError, match="dim"):
        embed_text(df, dim=0)
    # lang parity
    l = {r["doc_id"]: r["embedding"] for r in eng.q(
        'embed_text(pdocs, "doc_id", "text", 4)',
        pdocs=df).collect()}
    assert l == got


def test_embed_semdedup_end_to_end(eng):
    """The q226 composition from RAW text: exact-copy docs embed to
    identical vectors (content-addressed hashing), so semdedup drops
    every copy in favor of its lower-id original; distinct texts
    land near-orthogonal and survive.  Pinned on a small slice where
    the expectation is hand-derivable: survivors == the originals."""
    from preql_spark.operators.cluster import semdedup
    from preql_spark.operators.text import embed_text
    d = eng.t.documents.df.select("doc_id", "text") \
        .filter(F.col("text").isNotNull() & (F.col("doc_id") < 60))
    dup = d.filter(F.col("doc_id") < 10) \
        .select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    emb = embed_text(d.unionByName(dup), dim=16) \
        .select("doc_id", "embedding")
    out = semdedup(emb, tau=0.9, k=4, iters=2, id_col="doc_id")
    survivors = {r["doc_id"] for r in out.collect()}
    originals = {r["doc_id"] for r in d.collect()}
    # every copy (id >= 1000) has its identical original as a
    # lower-id cluster-mate at cosine exactly 1.0 -> dropped;
    # whether any ORIGINAL drops depends only on natural duplicate
    # texts in the fixture slice, which also embed identically
    assert not {s for s in survivors if s >= 1000}
    texts = {r["doc_id"]: r["text"] for r in d.collect()}
    nat_dupes = {i for i, t in texts.items()
                 if any(j < i and tj == t
                        for j, tj in texts.items())}
    assert survivors == originals - nat_dupes


def test_classifier_gate_streaming_registry(eng, tmp_path):
    """The classifier gate registers ONCE (GATES) and both streaming
    ingests see it: the keep-rate monitor counts per-source keeps
    under the fake scorer, and the curation ingest materializes
    exactly the keepers' raw text — both equal to the batch gate."""
    from preql_spark.operators.text import classifier_gate
    from preql_spark.streaming.stream import (
        incremental_curation_ingest, incremental_gate_rate_ingest)
    spark = eng.spark
    d = eng.t.documents.df.select("doc_id", "source", "text") \
        .filter(F.col("doc_id") < 200)
    batch = classifier_gate(d, threshold=0.5)
    want = {r["source"]: (r["n"], r["k"])
            for r in batch.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("keep").cast("long")).alias("k"))
            .collect()}
    base = tmp_path / "rate"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    d.filter(F.col("doc_id") < 100).write.mode("overwrite").parquet(src)
    incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                 gate="classifier", threshold=0.5)
    d.filter(F.col("doc_id") >= 100).write.mode("append").parquet(src)
    out = incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                       gate="classifier", threshold=0.5)
    assert {r["source"]: (r["n_docs"], r["n_keep"])
            for r in out.collect()} == want
    base = tmp_path / "cur"
    src, store, ck = (str(base / x) for x in ("src", "store", "ck"))
    d.write.mode("overwrite").parquet(src)
    rep = incremental_curation_ingest(spark, src, ck, store,
                                      gate="classifier", threshold=0.5)
    assert {r["source"]: r["n_docs"] for r in rep.collect()} == \
        {s: k for s, (n, k) in want.items() if k}
    # raw text materialized (classifier declares no rewrite column)
    stored = spark.read.parquet(store)
    kept = batch.filter("keep").select("doc_id", "text")
    assert stored.join(kept, "doc_id") \
        .filter(stored["text"] != kept["text"]).isEmpty()
    assert stored.count() == kept.count()


def test_gates_registry_contract(eng):
    """EVERY GATES entry honors the registry contract the streaming
    ingests depend on: callable as (df, id_col=..., text_col=...),
    returns ALL input columns plus a boolean `keep`, and the
    declared out_text_col (when set) is a string column present in
    the output — so a new gate that breaks the shape fails here,
    not inside a foreachBatch sink."""
    from preql_spark.operators.text import GATES
    d = eng.t.documents.df.select("doc_id", "source", "text") \
        .filter(F.col("doc_id") < 20)
    for name, (fn, out_col) in GATES.items():
        out = fn(d, id_col="doc_id", text_col="text")
        missing = [c for c in d.columns if c not in out.columns]
        assert not missing, (name, missing)
        assert dict(out.dtypes)["keep"] == "boolean", name
        if out_col is not None:
            assert dict(out.dtypes).get(out_col) == "string", \
                (name, out_col)
        # keep is concrete (executable), never all-NULL
        rows = out.select("keep").collect()
        assert rows and all(r["keep"] in (True, False)
                            for r in rows), name


def test_composed_gate(eng):
    """The composed funnel gate: keep == AND of stage keeps over
    the batch gates run standalone (rules-then-classifier); a
    text-rewriting stage (c4) hands its cleaned text to later
    stages AND to the `clean` output; schema = input + (keep,
    clean); bad stages / collisions are clear upfront errors."""
    from preql_spark.operators.text import (c4_clean, classifier_gate,
                                            composed_gate,
                                            gopher_quality_gate)
    d = eng.t.documents.df.select("doc_id", "source", "text") \
        .filter(F.col("doc_id") < 120)
    out = composed_gate(
        d, stages=[("gopher", {"min_words": 40, "min_stop_words": 1}),
                   ("classifier", {"threshold": 0.5})])
    assert out.columns == ["doc_id", "source", "text", "keep",
                           "clean"]
    rule = gopher_quality_gate(d, min_words=40, min_stop_words=1) \
        .select("doc_id", F.col("keep").alias("rk"))
    clf = classifier_gate(d, threshold=0.5) \
        .select("doc_id", F.col("keep").alias("ck"))
    want = {r["doc_id"]: r["rk"] and r["ck"]
            for r in rule.join(clf, "doc_id").collect()}
    got = {r["doc_id"]: (r["keep"], r["clean"], r["text"])
          for r in out.collect()}
    assert {k: v[0] for k, v in got.items()} == want
    # no rewriting stage: clean == raw text
    assert all(v[1] == v[2] for v in got.values())
    # c4 FIRST: the classifier scores the CLEANED text, and `clean`
    # carries it
    multi = d.withColumn(
        "text", F.concat_ws(
            "\n", F.concat(F.substring("text", 1, 50),
                           F.lit(". keep me here fine!")),
            F.lit("junk line no punctuation"),
            F.concat(F.substring("text", 51, 40),
                     F.lit(". another proper sentence right here."))))
    c = composed_gate(multi, stages=[("c4", {"min_sentences": 2}),
                                     ("classifier",
                                      {"threshold": 0.0})])
    cb = c4_clean(multi, min_sentences=2)
    ref = {r["doc_id"]: (r["keep"], r["clean"]) for r in cb.collect()}
    clf2 = {r["doc_id"]: r["keep"] for r in classifier_gate(
        cb.select("doc_id", F.col("clean").alias("text")),
        threshold=0.0).collect()}
    for r in c.collect():
        k, cl = ref[r["doc_id"]]
        assert r["clean"] == cl                   # rewritten text
        assert r["keep"] == (k and clf2[r["doc_id"]])
    with pytest.raises(ValueError, match="at least one stage"):
        composed_gate(d, stages=[])
    with pytest.raises(ValueError, match="non-composable"):
        composed_gate(d, stages=[("composed", {})])
    with pytest.raises(ValueError, match="non-composable"):
        composed_gate(d, stages=[("nope", {})])
    with pytest.raises(ValueError, match="keep"):
        composed_gate(d.withColumn("keep", F.lit(True)))


def test_composed_gate_streaming(eng, tmp_path):
    """GATES["composed"] through BOTH streaming ingests with zero
    ingest edits: the keep-rate monitor's counters equal the batch
    funnel, the curation ingest materializes the funnel's final
    text for keepers, and a changed NESTED stage threshold raises
    the config-drift guard (the fingerprint covers the stages
    data)."""
    from preql_spark.operators.text import composed_gate
    from preql_spark.streaming.stream import (
        incremental_curation_ingest, incremental_gate_rate_ingest)
    spark = eng.spark
    d = eng.t.documents.df.select("doc_id", "source", "text") \
        .filter(F.col("doc_id") < 200)
    stages = [("gopher", {"min_words": 40, "min_stop_words": 1}),
              ("classifier", {"threshold": 0.5})]
    batch = composed_gate(d, stages=stages)
    want = {r["source"]: (r["n"], r["k"])
            for r in batch.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("keep").cast("long")).alias("k"))
            .collect()}
    base = tmp_path / "rate"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    d.filter(F.col("doc_id") < 100).write.mode("overwrite").parquet(src)
    incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                 gate="composed", stages=stages)
    d.filter(F.col("doc_id") >= 100).write.mode("append").parquet(src)
    out = incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                       gate="composed", stages=stages)
    assert {r["source"]: (r["n_docs"], r["n_keep"])
            for r in out.collect()} == want
    # nested threshold drift raises
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_gate_rate_ingest(
            spark, src, str(base / "ck2"), st, ids, gate="composed",
            stages=[("gopher", {"min_words": 40,
                                "min_stop_words": 1}),
                    ("classifier", {"threshold": 0.9})])
    base = tmp_path / "cur"
    src, store, ck = (str(base / x) for x in ("src", "store", "ck"))
    d.write.mode("overwrite").parquet(src)
    rep = incremental_curation_ingest(spark, src, ck, store,
                                      gate="composed", stages=stages)
    assert {r["source"]: r["n_docs"] for r in rep.collect()} == \
        {s: k for s, (n, k) in want.items() if k}
    stored = spark.read.parquet(store)
    kept = batch.filter("keep").select("doc_id", "clean")
    assert stored.join(kept, "doc_id") \
        .filter(stored["text"] != kept["clean"]).isEmpty()
    assert stored.count() == kept.count()
    # a REWRITING stage in the funnel: the curation store must
    # materialize the c4-cleaned text (composed declares out col
    # `clean` uniformly), not the raw crawl text
    multi = d.withColumn(
        "text", F.concat_ws(
            "\n", F.concat(F.substring("text", 1, 50),
                           F.lit(". keep me here fine!")),
            F.lit("junk line no punctuation"),
            F.concat(F.substring("text", 51, 40),
                     F.lit(". another proper sentence right here."))))
    st2 = [("c4", {"min_sentences": 2}),
           ("classifier", {"threshold": 0.3})]
    b2 = composed_gate(multi, stages=st2)
    base = tmp_path / "cur2"
    src, store, ck = (str(base / x) for x in ("src", "store", "ck"))
    multi.write.mode("overwrite").parquet(src)
    incremental_curation_ingest(spark, src, ck, store,
                                gate="composed", stages=st2)
    stored = spark.read.parquet(store)
    kept = b2.filter("keep").select("doc_id", "clean", "text")
    assert stored.count() == kept.count()
    j = stored.join(kept, "doc_id")
    assert j.filter(stored["text"] != kept["clean"]).isEmpty()
    # and the cleaned text genuinely differs from the raw crawl
    assert not j.filter(stored["text"] == kept["text"]).count()


def test_strip_repeated_units(eng):
    """Intra-doc self-repetition: repeated units collapse to the
    FIRST occurrence with order preserved, distinct units all
    survive, a custom separator works, and the lang scalar matches.
    Corpus-wide line_dedup is the cross-doc sibling — here a unit
    repeated across two docs survives in BOTH (per-row rule)."""
    from preql_spark.operators.text import strip_repeated_units
    spark = eng.spark
    df = spark.createDataFrame(
        [(1, "a\nb\na\nc\nb"), (2, "a\na")], "i: long, t: string")
    got = {r.i: r.n for r in df.select(
        "i", strip_repeated_units("t").alias("n")).collect()}
    assert got == {1: "a\nb\nc", 2: "a"}   # 'a' kept in BOTH docs
    # custom separator
    one = spark.createDataFrame([("x y x z",)], "t: string")
    assert one.select(strip_repeated_units("t", " ").alias("n")) \
        .collect()[0].n == "x y z"
    # regex-special separators are LITERAL (escaped before split)
    dot = spark.createDataFrame([("a.b.a.c",)], "t: string")
    assert dot.select(strip_repeated_units("t", ".").alias("n")) \
        .collect()[0].n == "a.b.c"
    # lang scalar parity: doc text repeated twice collapses to one
    l = eng.q('documents[doc_id < 3] {doc_id, n: '
              'strip_repeated_units(text + "\\n" + text)} '
              'order {doc_id}').collect()
    a = eng.t.documents.df.filter(F.col("doc_id") < 3) \
        .orderBy("doc_id").select("text").collect()
    assert [r.n for r in l] == [r.text for r in a]


def test_cluster_size_histogram(eng):
    """Cluster sizes from a crafted pair graph: {1,2,3} and {10,11}
    give one 3-cluster and one 2-cluster; an empty pair frame gives
    an empty histogram; lang parity."""
    from preql_spark.operators.dedup import cluster_size_histogram
    spark = eng.spark
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a: long, id_b: long")
    got = {r.cluster_size: r.n_clusters
           for r in cluster_size_histogram(pairs).collect()}
    assert got == {3: 1, 2: 1}
    empty = pairs.filter(F.col("id_a") < 0)
    assert cluster_size_histogram(empty).count() == 0
    l = {r.cluster_size: r.n_clusters for r in eng.q(
        'cluster_size_histogram(prs)', prs=pairs).collect()}
    assert l == got


def test_scalar_cleaners_idempotent(eng):
    """The per-row cleaning scalars are IDEMPOTENT — f(f(x)) == f(x)
    over the whole corpus with synthesized dirt: canonical URLs
    re-canonicalize to themselves, normalized text re-normalizes to
    itself (the widened fold maps into fold-fixed characters), and a
    repetition-stripped doc has nothing left to strip.  Idempotence
    is what lets a pipeline re-run a cleaning stage on partially
    clean data without changing results."""
    from preql_spark.operators.text import (canonicalize_url,
                                            normalize_text,
                                            strip_repeated_units)
    d = eng.t.documents.df
    url = F.concat(F.lit("HTTPS://Ex.COM:443/p/"), F.col("doc_id"),
                   F.lit("/?utm_a=1&ref="), F.col("doc_id"),
                   F.lit("#f"))
    txt = F.concat(F.lit(" Héllo—ÆØŁ straße "), F.col("text"))
    rep = F.concat_ws("\n", F.col("text"),
                      F.substring("text", 1, 20),
                      F.substring("text", 1, 20))
    checks = d.select(
        (canonicalize_url(canonicalize_url(url))
         == canonicalize_url(url)).alias("u"),
        (normalize_text(normalize_text(txt))
         == normalize_text(txt)).alias("t"),
        (strip_repeated_units(strip_repeated_units(rep))
         == strip_repeated_units(rep)).alias("r"))
    agg = checks.agg(*[F.count(F.when(~F.col(c), 1)).alias(c)
                       for c in ("u", "t", "r")]).collect()[0]
    assert tuple(agg) == (0, 0, 0)


def test_normalize_text(eng):
    """Each normalization stage fires and is independently
    switchable; the composed chain matches the documented value;
    normalized near-identical docs fingerprint equal (the dedup
    preprocessing contract)."""
    from preql_spark.operators.text import fingerprint64, normalize_text
    spark = eng.spark
    df = spark.createDataFrame(
        [("  Héllo, Wörld!—ÇA  va…  ",),
         ("hello world ca va",),
         ("HELLO   world, ça va!",)], "t: string")
    got = [r.n for r in df.select(normalize_text("t").alias("n"))
           .collect()]
    assert got == ["hello world ca va"] * 3
    # all three normalize to ONE fingerprint
    fps = {r.f for r in df.select(
        fingerprint64(normalize_text("t")).alias("f")).collect()}
    assert len(fps) == 1
    # table invariants: translate() silently DELETES unmatched FROM
    # chars, so the pair lengths must stay equal (and FROM unique)
    from preql_spark.operators.text import (ACCENT_FOLD_FROM,
                                            ACCENT_FOLD_TO)
    assert len(ACCENT_FOLD_FROM) == len(ACCENT_FOLD_TO)
    assert len(set(ACCENT_FOLD_FROM)) == len(ACCENT_FOLD_FROM)
    # wide fold coverage: multi-char ligatures/eszett/thorn (æ→ae,
    # œ→oe, ß→ss, ĳ→ij, þ→th) and Latin Extended-A (Ł ó ź)
    wide = spark.createDataFrame(
        [("ÆSOP’s Œuvre: straße, Łódź, ĳs & Þorn",)], "t: string")
    assert wide.select(normalize_text("t").alias("n")) \
        .collect()[0].n == "aesop s oeuvre strasse lodz ijs thorn"
    # with lowercase off, the UPPERCASE table entries fold directly
    up = spark.createDataFrame([("ÆŁÓÞ",)], "t: string")
    assert up.select(
        normalize_text("t", lowercase=False).alias("n")) \
        .collect()[0].n == "AELOTH"
    # Unicode whitespace collapses too (NEL/NBSP/thin space/
    # ideographic space — Java/RE2 \s is ASCII-only; the collapse
    # uses the documented WHITESPACE_CLASS, property-found in r12):
    # leading/trailing forms trim away, interior runs fold to ONE
    # ASCII space
    uws = spark.createDataFrame(
        [("\u0085hello\u00a0\u2009world\u3000ca\u0085va\u2028",)],
        "t: string")
    assert uws.select(normalize_text("t").alias("n")) \
        .collect()[0].n == "hello world ca va"
    # stages off: keep case / keep accents / keep punct / keep spacing
    one = df.limit(1)
    assert one.select(normalize_text("t", lowercase=False).alias("n")) \
        .collect()[0].n.startswith("H")
    assert "é" in one.select(
        normalize_text("t", fold_accents=False).alias("n")) \
        .collect()[0].n
    assert "," in one.select(
        normalize_text("t", strip_punct=False).alias("n")) \
        .collect()[0].n
    assert "  " in one.select(
        normalize_text("t", collapse_whitespace=False).alias("n")) \
        .collect()[0].n
    # lang scalar spelling matches the Python API
    d = eng.t.documents
    a = [r.n for r in d.df.limit(5).select(
        normalize_text(F.concat(F.upper("text"), F.lit("  x!")))
        .alias("n")).collect()]
    l = [r.n for r in eng.q(
        'documents[doc_id < 5] {doc_id, n: normalize_text('
        'upper(text) + "  x!")} order {doc_id}').collect()]
    assert sorted(a) == sorted(l)


def test_leakage_safe_split(eng):
    """Every member of a near-dup cluster lands on the SAME side
    (keyed by the component canonical), singletons split exactly
    like Table.split_by_hash on their own id (shared
    hash_split_label rule), every row is labeled once, and bad
    fractions raise."""
    import pytest as _pt
    from preql_spark.operators.dedup import leakage_safe_split
    spark = eng.spark
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)],
        "id_a: long, id_b: long")
    ids = [1, 2, 3, 4, 10, 11, 20, 21] + list(range(100, 160))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id: long")
    splits = {"train": 0.6, "valid": 0.2, "test": 0.2}
    out = {r.doc_id: r.split for r in
           leakage_safe_split(docs, pairs, splits).collect()}
    assert len(out) == len(ids)            # one label per row
    # whole clusters on one side
    for cluster in ([1, 2, 3, 4], [10, 11], [20, 21]):
        assert len({out[i] for i in cluster}) == 1
    # cluster side == hash of the canonical id
    from preql_spark.table import Table
    by_own = {r.doc_id: r.split for r in
              Table(eng, docs).split_by_hash("doc_id", splits)
              .df.collect()}
    assert out[3] == by_own[1] and out[11] == by_own[10]
    # singletons identical to plain split_by_hash
    for i in range(100, 160):
        assert out[i] == by_own[i]
    # the 60 singletons spread over all three sides (sanity that the
    # labeling isn't degenerate)
    assert {out[i] for i in range(100, 160)} == {"train", "valid",
                                                 "test"}
    with _pt.raises(ValueError, match="sum to 1"):
        leakage_safe_split(docs, pairs, {"train": 0.5, "test": 0.4})


def test_pack_sequences(eng):
    from preql_spark.operators.text import pack_sequences
    d = eng.t.documents.df
    packed = pack_sequences(d, budget=256, n_buckets=4)
    rows = packed.collect()
    assert len(rows) == d.count()          # every doc assigned once
    # within each (bucket, pack), token totals respect the budget up
    # to one straddling doc (concat-then-chunk semantics): each pack's
    # PRECEDING cumsum starts below the next boundary
    import collections
    by_bp = collections.defaultdict(list)
    for r in rows:
        by_bp[(r.bucket, r.pack)].append(r)
    for (b, p), docs in by_bp.items():
        assert all(r.pack == p for r in docs)
    # deterministic re-run
    again = {(r.doc_id): (r.bucket, r.pack) for r in
             pack_sequences(d, budget=256, n_buckets=4).collect()}
    first = {(r.doc_id): (r.bucket, r.pack) for r in rows}
    assert first == again
    # packs are contiguous per bucket: 0..max with no holes
    for b in {r.bucket for r in rows}:
        packs = sorted({r.pack for r in rows if r.bucket == b})
        assert packs == list(range(len(packs)))


def test_chunk_tokens(eng):
    from preql_spark.operators.text import chunk_tokens
    spark = eng.spark
    doc = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(100))), (2, "a b")],
        "doc_id: long, text: string")
    out = chunk_tokens(doc, chunk=40, overlap=10).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    # starts 1, 31, 61 -> 90 covered? len=100, starts while <= 90:
    # 1,31,61 -> slices 40,40,40; plus... greatest(100-10)=90 -> 1,31,61 only
    assert [r.chunk_id for r in c1] == [0, 1, 2]
    assert [r.n_tokens for r in c1] == [40, 40, 40]
    assert c1[0].chunk_text.split()[:2] == ["w0", "w1"]
    # consecutive chunks share the overlap tokens
    assert c1[0].chunk_text.split()[-10:] == c1[1].chunk_text.split()[:10]
    assert by_doc[2][0].n_tokens == 2      # short doc -> one chunk
    # zero-shuffle plan: pure per-row explode
    plan = chunk_tokens(doc, chunk=40, overlap=10) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_quantile_filter(eng):
    from preql_spark.operators.text import quantile_filter
    spark = eng.spark
    df = spark.createDataFrame(
        [("a", i) for i in range(1, 11)] + [("b", i) for i in (5, 50)],
        "grp: string, v: long")
    kept = quantile_filter(df, "v", 0.5, by="grp").collect()
    a_vals = sorted(r.v for r in kept if r.grp == "a")
    assert a_vals == [6, 7, 8, 9, 10]      # median of 1..10 is 5.5
    assert sorted(r.v for r in kept if r.grp == "b") == [50]
    below = quantile_filter(df, "v", 0.5, keep="below").collect()
    assert max(r.v for r in below) <= 8    # global median of all 12


def test_interval_join(eng):
    from preql_spark.operators.rangejoin import interval_join
    spark = eng.spark
    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:30:00", "u1"), (2, "2024-01-01 02:30:00", "u1"),
         (3, "2024-01-01 00:45:00", "u2"), (4, "2024-01-05 00:00:00", "u1")],
        "event_id: long, ts_s: string, user: string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user")
    iv = spark.createDataFrame(
        [(10, "2024-01-01 00:00:00", "2024-01-01 01:00:00", "u1"),
         (11, "2024-01-01 00:00:00", "2024-01-01 03:00:00", "u1"),
         (12, "2024-01-01 00:00:00", "2024-01-01 01:00:00", "u2")],
        "window_id: long, s: string, e: string, user: string").selectExpr(
            "window_id", "CAST(s AS TIMESTAMP) AS start",
            "CAST(e AS TIMESTAMP) AS end", "user")
    # without keys: every containing interval matches, exactly once
    got = sorted((r.event_id, r.window_id) for r in
                 interval_join(ev, iv, bucket_s=1800).collect())
    assert got == [(1, 10), (1, 11), (1, 12), (2, 11), (3, 10), (3, 11),
                   (3, 12)]
    # with equality keys the match is also per-user
    got = sorted((r.event_id, r.window_id) for r in
                 interval_join(ev, iv, bucket_s=1800,
                               keys=["user"]).collect())
    assert got == [(1, 10), (1, 11), (2, 11), (3, 12)]
    # end is exclusive: an event exactly at end does not match
    ev2 = spark.createDataFrame([(9, "2024-01-01 01:00:00")],
                                "event_id: long, ts_s: string") \
        .selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    assert interval_join(
        ev2, iv.filter(F.col("window_id") == 10), bucket_s=1800).count() == 0
    # plan: hash join on buckets, not nested-loop
    plan = interval_join(ev, iv, bucket_s=1800) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


def test_centroid_agg(eng):
    from preql_spark.operators.similarity import centroid_agg
    spark = eng.spark
    df = spark.createDataFrame(
        [("a", [1.0, 2.0]), ("a", [3.0, 4.0]), ("b", [10.0, 20.0])],
        "grp: string, embedding: array<double>")
    got = {r.grp: list(r.centroid) for r in centroid_agg(df, "grp").collect()}
    assert got == {"a": [2.0, 3.0], "b": [10.0, 20.0]}


def test_redact_pii(eng):
    from preql_spark.operators.text import redact_pii
    spark = eng.spark
    df = spark.createDataFrame(
        [("mail bob@corp.io or call +1 (555) 123-4567 from 192.168.0.1",),
         ("nothing sensitive here",)], "t: string")
    got = [r.c for r in df.select(redact_pii("t").alias("c")).collect()]
    assert got[0] == "mail <EMAIL> or call <PHONE> from <IPV4>"
    assert got[1] == "nothing sensitive here"


def test_strip_short_lines(eng):
    from preql_spark.operators.text import strip_short_lines
    spark = eng.spark
    doc = "Home | About\nthis line has plenty of tokens\nCopyright 2024\n" \
          "another real sentence with enough words"
    df = spark.createDataFrame([(doc,)], "t: string")
    out = df.select(strip_short_lines("t", min_tokens=4).alias("c")) \
        .collect()[0].c
    assert out == ("this line has plenty of tokens\n"
                   "another real sentence with enough words")


def test_repetition_metrics(spark):
    df = spark.createDataFrame(
        [(1, "a b\na b\nc d e"),        # "a b" repeats: 3 lines, 1 dup
         (2, "x y z"),                   # no repeats
         (3, "")],                       # blank doc
        ["doc_id", "text"])
    rows = {r.doc_id: r for r in text.repetition_metrics(df).collect()}
    r1 = rows[1]
    assert r1.n_lines == 3
    assert r1.dup_line_frac == pytest.approx(1 / 3)
    # chars: "a b"(3)*2 + "c d e"(5) = 11; dup chars = 3
    assert r1.dup_line_char_frac == pytest.approx(3 / 11)
    # bigrams: "a b" doc: [a b, b a, a b, b c, c d, d e] -> top "a b"=2/6
    assert r1.top_bigram_frac == pytest.approx(2 / 6)
    assert rows[2].dup_line_frac == 0.0
    assert rows[2].top_bigram_frac == pytest.approx(1 / 2)  # 2 distinct bigrams
    assert rows[3].n_lines == 0
    assert rows[3].dup_line_frac == 0.0


def test_decontaminate(spark):
    shared = "one two three four five six seven eight"
    train = spark.createDataFrame(
        [(1, f"prefix {shared} suffix words here"),
         (2, "totally different content with no overlap at all today")],
        ["doc_id", "text"])
    ev = spark.createDataFrame(
        [(100, f"intro {shared} outro")], ["doc_id", "text"])
    bad = dedup.contaminated_ids(train, ev, "doc_id", k=8)
    assert {r.doc_id for r in bad.collect()} == {1}
    kept = dedup.decontaminate(train, ev, "doc_id", k=8)
    assert {r.doc_id for r in kept.collect()} == {2}
    # scale shape: eval side broadcast, train side semi-joined
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastExchange" in plan
    assert "LeftSemi" in plan


def test_vector_quantize_and_normalize(spark):
    df = spark.createDataFrame(
        [(1, [3.0, -4.0]), (2, [0.0, 0.0])],
        "vec_id long, embedding array<float>")
    q = {r.vec_id: r for r in similarity.quantize_int8(df).collect()}
    assert q[1].scale == pytest.approx(127 / 4.0)
    assert q[1].q == [95, -127]        # 3*31.75=95.25 -> 95
    assert q[2].scale == 0.0 and q[2].q == [0, 0]
    u = {r.vec_id: r
         for r in similarity.normalize_vectors(df, "embedding", "unit").collect()}
    assert u[1].unit == pytest.approx([0.6, -0.8])
    assert u[2].unit == [0.0, 0.0]     # zero vector passes through


def test_bm25(spark):
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], ["doc_id", "text"])
    rows = {(r.doc_id, r.token): r for r in text.bm25(df).collect()}
    import math
    # N=2, avgdl=2.5; d1: dl=3, tf(b)=1, df(b)=1
    exp_b = math.log((2 - 1 + 0.5) / (1 + 0.5) + 1) \
        * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 2.5))
    assert rows[(1, "b")].bm25 == pytest.approx(exp_b)
    # common term "a" scores below rare terms everywhere
    assert rows[(1, "a")].bm25 < rows[(1, "b")].bm25
    assert rows[(2, "a")].bm25 < rows[(2, "c")].bm25
    assert rows[(1, "a")].tf == 2 and rows[(1, "a")].df == 2


def test_lm_perplexity(spark):
    import math
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b z q"), (3, "x")], ["doc_id", "text"])
    rows = {r.doc_id: r for r in text.lm_perplexity(df).collect()}
    # the common-pattern doc scores lower perplexity than the rare one
    assert rows[1].ppl < rows[2].ppl
    assert rows[3].n_bigrams == 0 and rows[3].ppl is None
    # hand-check: corpus bigrams = [ab,ba,ab | ab,bz,zq]; V counts
    # tokens seen in bigrams = {a,b,z,q} = 4 ("x" forms no bigram)
    # C(a,b)=3, C(a as w1)=3 -> P(b|a)=(3+.4)/(3+.4*4)=3.4/4.6
    # C(b,a)=1, C(b as w1)=2 -> P(a|b)=(1+.4)/(2+.4*4)=1.4/3.6
    exp1 = (2 * math.log(3.4 / 4.6) + math.log(1.4 / 3.6)) / 3
    assert rows[1].avg_logp == pytest.approx(exp1)
    assert rows[1].ppl == pytest.approx(math.exp(-exp1))
    # held-out scoring with unseen bigrams backs off to alpha mass
    held = spark.createDataFrame([(9, "a b unseen")], ["doc_id", "text"])
    out = {r.doc_id: r
           for r in text.lm_perplexity(held, train_df=df).collect()}
    assert out[9].n_bigrams == 2 and out[9].ppl is not None


def test_kmeans_matches_numpy(spark):
    """Lloyd iterations over DataFrames == the same algorithm in numpy
    (deterministic init, ties to lowest cluster id)."""
    import numpy as np
    from preql_spark.operators.cluster import kmeans

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 6)).astype("float32")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<float>")

    assigned, cents = kmeans(df, k=3, iters=2)
    got = {r.vec_id: r.cluster for r in assigned.collect()}

    v = vecs.astype("float64")
    c = v[:3].copy()
    for _ in range(2):
        d = ((v[:, None, :] - c[None, :, :]) ** 2).sum(axis=2)
        a = d.argmin(axis=1)
        for j in range(3):
            if (a == j).any():
                c[j] = v[a == j].mean(axis=0)
    final = ((v[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    assert got == {i: int(final[i]) for i in range(40)}
    assert np.allclose(np.array(cents), c, atol=1e-9)


def test_kmeans_empty_cluster_carryover(spark):
    """A centroid that captures no points keeps its previous value
    instead of vanishing (cluster ids stay dense in [0, k))."""
    from preql_spark.operators.cluster import kmeans
    # two tight blobs far apart; k=3 seeds from the first 3 points,
    # two of which sit in the same blob -> one seed ends up empty
    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [100.0, 0.0]),
           (3, [0.05, 0.0]), (4, [100.1, 0.0]), (5, [99.9, 0.0])]
    df = spark.createDataFrame(pts, "vec_id: long, embedding: array<float>")
    assigned, cents = kmeans(df, k=3, iters=3)
    assert len(cents) == 3
    clusters = {r.vec_id: r.cluster for r in assigned.collect()}
    assert set(clusters.values()) <= {0, 1, 2}
    # the two blobs never land in the same cluster
    assert clusters[2] == clusters[4] == clusters[5]
    assert clusters[0] == clusters[3]
    assert clusters[0] != clusters[2]


def test_semdedup_keep_rule(spark):
    """Within a cluster the lowest id of every cosine-neighborhood
    survives; cross-cluster near-dups are NOT dropped (by design —
    that's the recall/cost trade the clustering buys)."""
    from preql_spark.operators.cluster import semdedup
    pts = [(0, [1.0, 0.0]), (1, [0.999, 0.01]),   # near-dup pair, blob A
           (2, [1.0, 0.02]),                        # also close to 0/1
           (10, [-1.0, 0.0]), (11, [-1.0, -0.01])]  # near-dup pair, blob B
    df = spark.createDataFrame(pts, "vec_id: long, embedding: array<float>")
    kept = {r.vec_id for r in
            semdedup(df, tau=0.99, k=2, iters=2).collect()}
    assert 0 in kept and 10 in kept          # lowest ids survive
    assert 1 not in kept and 2 not in kept   # dominated by id 0
    assert 11 not in kept                    # dominated by id 10


def test_chunk_and_line_dedup(spark):
    """Global first-occurrence keep rule + in-order reassembly."""
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y a b"), (3, "a b x y")],
        "doc_id: long, text: string")
    out = {r.doc_id: (r.n_kept, r.text_dedup)
           for r in dedup.chunk_dedup(docs, chunk=2).collect()}
    # doc1 keeps both units; doc2's "a b" lost to doc1, keeps "x y";
    # doc3 loses everything ("a b" -> doc1, "x y" -> doc2) and drops out
    assert out == {1: (2, "a b c d"), 2: (1, "x y")}

    lines = spark.createDataFrame(
        [(1, "hello\nworld"), (2, "world\nagain")],
        "doc_id: long, text: string")
    lout = {r.doc_id: r.text_dedup
            for r in dedup.line_dedup(lines).collect()}
    assert lout == {1: "hello\nworld", 2: "again"}


def test_dedup_units_within_doc(spark):
    """A unit repeated inside ONE doc also dedups to its first
    position (pos tiebreak after id)."""
    docs = spark.createDataFrame([(5, "p q p q")],
                                 "doc_id: long, text: string")
    out = dedup.chunk_dedup(docs, chunk=2).collect()[0]
    assert (out.n_kept, out.text_dedup) == (1, "p q")


def test_duplicate_spans_crafted(spark):
    """Span flag/merge semantics on crafted docs: a shared 5-gram
    flags both holders; overlapping flagged grams merge into ONE
    maximal span with exact distinct-token coverage; short and
    unique docs report zeros."""
    docs = spark.createDataFrame(
        [(1, "a b c d e X Y Z w1 w2"),       # shares "a b c d e" w/ 2
         (2, "p q r s t a b c d e"),
         (3, "u1 u2 u3 u4 u5 u6 u7"),        # unique
         (4, "t1 t2 t3 t4 t5 t6 t7"),        # identical to 5: grams at
         (5, "t1 t2 t3 t4 t5 t6 t7"),        # 0,1,2 merge to one span
         (6, "x y")],                        # shorter than k
        "doc_id: long, text: string")
    out = {r.doc_id: (r.n_tokens, r.n_dup_grams, r.n_spans,
                      r.dup_tokens, round(r.dup_ratio, 4))
           for r in dedup.duplicate_spans(docs, k=5).collect()}
    assert out[1] == (10, 1, 1, 5, 0.5)
    assert out[2] == (10, 1, 1, 5, 0.5)
    assert out[3] == (7, 0, 0, 0, 0.0)
    assert out[4] == (7, 3, 1, 7, 1.0)
    assert out[5] == (7, 3, 1, 7, 1.0)
    assert out[6] == (2, 0, 0, 0, 0.0)


def test_duplicate_spans_disjoint_islands(spark):
    """Two flagged grams separated by an unflagged gap stay two
    spans; coverage never double-counts overlapping intervals."""
    # doc 7/8 share grams at positions 0 and 6 (k=5): spans
    # [0,4] and [6,10] -> 2 spans, 10 covered tokens of 11
    shared_a, shared_b = "a b c d e", "v w x y z"
    docs = spark.createDataFrame(
        [(7, f"{shared_a} G1 {shared_b} H1"),
         (8, f"{shared_a} G2 {shared_b} H2")],
        "doc_id: long, text: string")
    out = {r.doc_id: (r.n_tokens, r.n_spans, r.dup_tokens)
           for r in dedup.duplicate_spans(docs, k=5).collect()}
    assert out[7] == (12, 2, 10)
    assert out[8] == (12, 2, 10)


def test_scd2_history(spark):
    """Change-log collapse: consecutive equal attrs merge, validity
    ranges chain, NULL->NULL is not a change."""
    from preql_spark.operators.history import (scd2_as_of, scd2_current,
                                               scd2_history)
    log = spark.createDataFrame(
        [(1, "2024-01-01", "gold"), (1, "2024-02-01", "gold"),
         (1, "2024-03-01", "silver"), (1, "2024-04-01", "gold"),
         (2, "2024-01-15", None), (2, "2024-02-15", None),
         (2, "2024-03-15", "bronze")],
        "k: long, ts: string, tier: string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    h = scd2_history(log, ["k"], "ts", ["tier"])
    rows = sorted(h.collect(), key=lambda r: (r.k, r.valid_from))
    assert [(r.k, r.tier, r.is_current) for r in rows] == [
        (1, "gold", False), (1, "silver", False), (1, "gold", True),
        (2, None, False), (2, "bronze", True)]
    # ranges chain: each valid_to equals the next valid_from
    assert rows[0].valid_to == rows[1].valid_from
    assert rows[1].valid_to == rows[2].valid_from
    cur = {r.k: r.tier for r in scd2_current(h).collect()}
    assert cur == {1: "gold", 2: "bronze"}
    asof = {r.k: r.tier
            for r in scd2_as_of(h, "2024-03-20 00:00:00").collect()}
    assert asof == {1: "silver", 2: "bronze"}


def test_cap_per_domain(spark):
    from preql_spark.operators.text import cap_per_domain
    df = spark.createDataFrame(
        [("a", i, 100 - i) for i in range(10)]
        + [("b", 100, 7)],
        "source: string, doc_id: long, q: long")
    out = cap_per_domain(df, "source", 3,
                         [F.col("q").desc(), F.col("doc_id")])
    got = sorted((r.source, r.doc_id) for r in out.collect())
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 100)]
    with pytest.raises(ValueError):
        cap_per_domain(df, "source", 3)


def test_llr_importance(spark):
    """Target-exclusive tokens score positive, background-exclusive
    negative; scores match a straight Python replay."""
    import math
    from preql_spark.operators.text import llr_importance
    df = spark.createDataFrame(
        [(1, "apple apple pie", True), (2, "apple tart", True),
         (3, "motor oil oil", False), (4, "oil pie", False)],
        "doc_id: long, text: string, is_t: boolean")
    out = {r.doc_id: r for r in
           llr_importance(df, F.col("is_t")).collect()}
    # python replay
    toks = {1: ["apple", "apple", "pie"], 2: ["apple", "tart"],
            3: ["motor", "oil", "oil"], 4: ["oil", "pie"]}
    tgt = {1, 2}
    ct, cb = {}, {}
    for d, ws in toks.items():
        for w in ws:
            (ct if d in tgt else cb)[w] = (ct if d in tgt else cb).get(w, 0) + 1
    vocab = set(ct) | set(cb)
    tt, tb, v = sum(ct.values()), sum(cb.values()), len(vocab)
    def w(t):
        return math.log(((ct.get(t, 0) + 0.5) / (tt + 0.5 * v))
                        / ((cb.get(t, 0) + 0.5) / (tb + 0.5 * v)))
    for d, ws in toks.items():
        want = sum(w(t) for t in ws) / len(ws)
        assert abs(out[d].score - want) < 1e-9, d
        assert out[d].n_tokens == len(ws)
    assert out[1].score > 0 > out[3].score


def test_bloom_semi_join_exact(spark, eng):
    """Bloom pruning + exact join == plain left-semi join, bit for bit."""
    from preql_spark.operators.bloom import bloom_semi_join
    li = eng.t.lineitem.df
    expensive = eng.t.orders.df.filter(F.col("o_totalprice") > 300000)
    got = sorted((r.l_orderkey, r.l_linenumber) for r in
                 bloom_semi_join(li, "l_orderkey", expensive, "o_orderkey")
                 .select("l_orderkey", "l_linenumber").collect())
    keys = expensive.select(F.col("o_orderkey").alias("l_orderkey"))
    want = sorted((r.l_orderkey, r.l_linenumber) for r in
                  li.join(keys, "l_orderkey", "left_semi")
                  .select("l_orderkey", "l_linenumber").collect())
    assert got == want and len(got) > 0


def test_bloom_probe_no_false_negatives(spark):
    """Every true key passes the bloom even at a deliberately tiny,
    collision-heavy bit budget."""
    from preql_spark.operators.bloom import bloom_build, bloom_probe
    small = spark.range(50).select((F.col("id") * 7).alias("k"))
    big = spark.range(1000).select(F.col("id").alias("k"))
    bloom = bloom_build(small, "k", n_bits=256, n_hashes=2)
    passed = {r.k for r in bloom_probe(big, bloom, "k",
                                       n_bits=256, n_hashes=2).collect()}
    true_keys = {i * 7 for i in range(50) if i * 7 < 1000}
    assert true_keys <= passed  # superset: no false negatives


def test_bloom_rejects_partial_word(spark):
    """n_bits not a multiple of 64 would drop the trailing partial
    word on the build side while the probe still indexes it — false
    NEGATIVES — so both entry points refuse it up front."""
    import pytest
    from preql_spark.operators.bloom import bloom_build, bloom_probe
    small = spark.range(10).select(F.col("id").alias("k"))
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(small, "k", n_bits=100)
    bloom = bloom_build(small, "k", n_bits=128, n_hashes=2)
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_probe(small, bloom, "k", n_bits=100, n_hashes=2)


def test_corpus_overlap(spark):
    from preql_spark.operators.dedup import corpus_overlap
    a = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "cc"), (4, "BB ")],  # 4 normalizes to bb
        "doc_id: long, text: string")
    b = spark.createDataFrame(
        [(1, "bb"), (2, "dd")], "doc_id: long, text: string")
    r = corpus_overlap(a, b).collect()[0]
    assert (r.n_a, r.n_b, r.n_common) == (3, 2, 1)
    assert abs(r.jaccard - 0.25) < 1e-12


def test_import_jsonl_roundtrip(spark, eng, tmp_path):
    """write_jsonl -> import_jsonl with explicit schema preserves rows
    without a second inference pass."""
    p = str(tmp_path / "docs_jsonl")
    t = eng.t.nation
    t.write_jsonl(p)
    back = eng.import_jsonl(
        p, "n_nationkey bigint, n_name string, n_regionkey bigint")
    assert back.df.count() == t.df.count()
    assert {r.n_name for r in back.df.collect()} \
        == {r.n_name for r in t.df.collect()}


def test_snapshot_diff(spark):
    from preql_spark.operators.history import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, None, 30)],
        "k: long, v: string, x: long")
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 40), (5, None, None)],
        "k: long, v: string, x: long")
    got = {r.k: r.change_type
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "deleted",
                   4: "inserted", 5: "inserted"}
    # restrict comparison to one column: v-only change becomes invisible
    got_x = {r.k: r.change_type
             for r in snapshot_diff(old, new, ["k"], ["x"]).collect()}
    assert got_x[2] == "unchanged"


def test_quantile_bucketize(spark):
    from preql_spark.operators.text import quantile_bucketize
    df = spark.createDataFrame([(i, float(i)) for i in range(100)],
                               "id: long, v: double")
    out = quantile_bucketize(df, "v", 4)
    counts = {r.bucket: r.n for r in
              out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n")).collect()}
    # equal-frequency: 4 buckets of ~25 each, in order
    assert set(counts) == {0, 1, 2, 3}
    assert all(20 <= c <= 30 for c in counts.values())
    by_v = {r.v: r.bucket for r in out.collect()}
    assert by_v[0.0] == 0 and by_v[99.0] == 3
    assert all(by_v[float(i)] <= by_v[float(i + 1)] for i in range(99))


def test_zorder_key_matches_python_morton(spark):
    from preql_spark.operators.layout import zorder_key
    rows = [(i, i * 37 % 100, i * 53 % 100) for i in range(200)]
    df = spark.createDataFrame(rows, "id: long, x: long, y: long")
    got = {r.id: r.z for r in
           df.select("id", zorder_key(["x", "y"], bits=8).alias("z"))
           .collect()}

    def morton(x, y):
        z = 0
        for i in range(8):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    assert got == {i: morton(x, y) for i, x, y in rows}
    with pytest.raises(ValueError):
        zorder_key(["x", "y"], bits=32)  # 64 bits won't fit signed


def test_write_zordered_prunes(spark, eng, tmp_path):
    """Z-ordered files have tight min/max on BOTH interleaved columns
    — the data-skipping property the layout exists for.  Keys must
    span the masked bit domain (the documented bucketize-first
    contract): a key using only the low bits never reaches the top
    interleaved bits and gets no pruning."""
    import os

    import pyarrow.parquet as pq
    p = str(tmp_path / "zorders")
    df = spark.range(20000).select(
        (F.col("id") * 37 % 1024).alias("x"),
        (F.col("id") * 991 % 1024).alias("y"))
    eng.from_df(df).write_zordered(p, ["x", "y"], bits=10, n_files=4)

    def span(col):
        out = []
        for f in os.listdir(p):
            if not f.endswith(".parquet"):
                continue
            md = pq.read_metadata(os.path.join(p, f))
            c = {md.schema.column(i).name: i
                 for i in range(md.num_columns)}
            lo = min(md.row_group(g).column(c[col]).statistics.min
                     for g in range(md.num_row_groups))
            hi = max(md.row_group(g).column(c[col]).statistics.max
                     for g in range(md.num_row_groups))
            out.append((lo, hi))
        return out

    for col in ("x", "y"):
        spans = span(col)
        assert len(spans) > 1
        total = max(h for _, h in spans) - min(l for l, _ in spans)
        # per-file spans narrower than global: a range predicate on
        # EITHER column can skip files — neither is "the" sort key
        assert sum(h - l for l, h in spans) < total * len(spans) * 0.8, col


def test_skew_report(spark):
    from preql_spark.operators.layout import skew_report
    df = spark.createDataFrame(
        [(1,)] * 60 + [(2,)] * 30 + [(k,) for k in range(3, 13)],
        "k: long")
    rows = skew_report(df, "k", top=3).collect()
    assert [r.key for r in rows] == [1, 2, 3]
    top = rows[0]
    assert top.n_rows == 60 and abs(top.share - 0.6) < 1e-12
    # 12 distinct keys over 100 rows: uniform load is 100/12
    assert abs(top.x_uniform - 60 * 12 / 100) < 1e-12


def test_new_operator_null_edges(spark):
    """Pinned null semantics: null text contributes no units (doc
    drops out), null bucketize values stay null (never bucket 0),
    null SCD2 timestamps sort first (open-ended first version)."""
    from preql_spark.operators.dedup import chunk_dedup
    from preql_spark.operators.history import scd2_history
    from preql_spark.operators.text import quantile_bucketize

    docs = spark.createDataFrame([(1, "a b"), (2, None)],
                                 "doc_id: long, text: string")
    assert [r.doc_id for r in chunk_dedup(docs, chunk=2).collect()] == [1]

    df = spark.createDataFrame([(1, 1.0), (2, None), (3, 3.0)],
                               "id: long, v: double")
    got = {r.id: r.bucket for r in quantile_bucketize(df, "v", 2).collect()}
    assert got[2] is None and got[1] == 0 and got[3] == 1

    log = spark.createDataFrame(
        [(1, None, "x"), (1, "2024-01-01", "y")],
        "k: long, ts: string, a: string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    rows = sorted(scd2_history(log, ["k"], "ts", ["a"]).collect(),
                  key=lambda r: (r.valid_from is not None, r.valid_from))
    assert rows[0].valid_from is None and not rows[0].is_current
    assert rows[1].is_current


def test_mine_contrastive_pairs(spark):
    """Positives above tau, exactly k hard negatives below it, and
    the negatives really are the hardest (max-sim) ones."""
    from preql_spark.operators.similarity import mine_contrastive_pairs
    pts = [(0, [1.0, 0.0]), (1, [0.999, 0.02]),     # pos pair
           (2, [0.7, 0.7]), (3, [0.0, 1.0]), (4, [-1.0, 0.1])]
    df = spark.createDataFrame(pts, "vec_id: long, embedding: array<float>")
    out = mine_contrastive_pairs(df, pos_tau=0.99, k_neg=2).collect()
    pos = {(r.anchor, r.partner) for r in out if r.label == 1}
    assert pos == {(0, 1), (1, 0)}                   # directed both ways
    negs = {}
    for r in out:
        if r.label == 0:
            negs.setdefault(r.anchor, []).append((r.partner, r.sim))
    assert all(len(v) == 2 for v in negs.values())
    # anchor 0's hardest sub-threshold neighbors are 2 then 3
    assert [p for p, _ in sorted(negs[0], key=lambda t: -t[1])] == [2, 3]
    assert all(s < 0.99 for v in negs.values() for _, s in v)


def test_semdedup_centroid_policy(spark):
    """Paper keep rule: within a near-dup component the member
    FARTHEST from the cluster centroid survives (not the lowest id)."""
    from preql_spark.operators.cluster import semdedup
    # one tight blob (near-dups) + one far point; the blob's outlier
    # member (id 2, pulled away from the blob/centroid) must survive
    pts = [(0, [1.0, 0.0]), (1, [0.998, 0.01]), (2, [0.93, 0.36]),
           (10, [-1.0, 0.0])]
    df = spark.createDataFrame(pts, "vec_id: long, embedding: array<float>")
    kept_min = {r.vec_id for r in
                semdedup(df, tau=0.93, k=2, iters=2).collect()}
    kept_far = {r.vec_id for r in
                semdedup(df, tau=0.93, k=2, iters=2,
                         keep="far_from_centroid").collect()}
    assert 10 in kept_min and 10 in kept_far      # solo point untouched
    assert kept_min & {0, 1, 2} == {0}            # min-id keeps 0
    # centroid sits near the blob mean; id 2 is the farthest member
    assert kept_far & {0, 1, 2} == {2}


def test_audio_features_real_wav(spark):
    """Real WAV decode inside the Arrow kernel: a 1 kHz-ish square
    wave's RMS and duration come back exact."""
    sr = 8000
    square = [1.0 if i % 8 < 4 else -1.0 for i in range(sr)]  # 1 s
    silence = [0.0] * (sr // 2)                               # 0.5 s
    df = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_wav(square, sr))),
         (2, bytearray(multimodal.encode_wav(silence, sr)))],
        "doc_id long, payload binary")
    feats = {r.doc_id: r for r in
             multimodal.extract_audio_features(df, fake=False).collect()}
    assert feats[1].sample_rate == sr and feats[1].n_samples == sr
    assert feats[1].duration_s == pytest.approx(1.0)
    assert feats[1].rms == pytest.approx(1.0, abs=1e-3)
    assert feats[2].duration_s == pytest.approx(0.5)
    assert feats[2].rms == pytest.approx(0.0, abs=1e-6)
    # non-WAV payloads fail AT EXECUTION with NotImplementedError
    bad = spark.createDataFrame([(3, bytearray(b"mp3data"))],
                                "doc_id long, payload binary")
    with pytest.raises(Exception, match="WAV|NotImplemented"):
        multimodal.extract_audio_features(bad, fake=False).collect()
    # fake path is deterministic
    a = multimodal.extract_audio_features(df).collect()
    b = multimodal.extract_audio_features(df).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_resize_images_roundtrip(spark):
    """Nearest-neighbor resize through the built-in PNG pair: output
    dims and pixel mapping are exact (out[y][x] = src[y*sh//h][x*sw//w])."""
    src = [[(x + y * 4) * 16 for x in range(4)] for y in range(4)]
    df = spark.createDataFrame(
        [(1, bytearray(multimodal.encode_png(src)))],
        "doc_id long, payload binary")
    out = multimodal.resize_images(df, 2, 2).collect()[0]
    assert (out.width, out.height) == (2, 2)
    w, h, rows = multimodal._png_decode_luma(bytes(out.payload))
    assert (w, h) == (2, 2)
    want = [[src[y * 4 // 2][x * 4 // 2] for x in range(2)]
            for y in range(2)]
    assert [[int(v) for v in r] for r in rows] == want


def test_extract_frame_features(spark):
    """Frame fan-out happens before the Arrow boundary; per-frame
    features are deterministic and distinct per index."""
    df = spark.createDataFrame([(1, bytearray(b"videopayload")),
                                (2, bytearray(b"other"))],
                               "doc_id long, payload binary")
    out = multimodal.extract_frame_features(df, n_frames=3).collect()
    assert len(out) == 6
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.frame_idx] = r.phash
    assert set(by_doc[1]) == {0, 1, 2}
    assert len(set(by_doc[1].values())) == 3       # distinct per frame
    again = multimodal.extract_frame_features(df, n_frames=3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(Exception, match="codec|NotImplemented"):
        multimodal.extract_frame_features(df, 2, fake=False).collect()


def test_validation_report(spark):
    from preql_spark.operators.expect import expect_clean, validation_report
    df = spark.createDataFrame(
        [(1, "a", 5), (2, None, 50), (3, "a", -1), (4, "b", None)],
        "id: long, name: string, v: long")
    dim = spark.createDataFrame([("a",), ("c",)], "name: string")
    rep = {r.rule: r.violations for r in validation_report(
        df, not_null=["name"], unique=["id", "name"],
        ranges={"v": (0, 10)},
        fk=[("name", dim, "name")]).collect()}
    assert rep == {"not_null:name": 1,
                   "unique:id": 0,
                   "unique:name": 1,       # "a" twice
                   "range:v": 2,           # 50 and -1; null not counted
                   "fk:name": 1}           # "b" unmatched; null exempt
    with pytest.raises(ValueError, match="not_null:name"):
        expect_clean(df, not_null=["name"])
    expect_clean(df, unique=["id"])        # clean rule passes silently


def test_domain_block_filter(spark):
    from preql_spark.operators.text import (domain_block_filter, host_of,
                                            host_suffixes)
    df = spark.createDataFrame(
        [(1, "https://a.spam.com/x"), (2, "http://ok.example.org/"),
         (3, "https://spam.com"), (4, "https://notspam.com/y"),
         (5, "ftp://deep.a.spam.com:8080/z")],
        "doc_id: long, url: string")
    bl = spark.createDataFrame([("spam.com",)], "host: string")
    kept = {r.doc_id for r in domain_block_filter(df, bl).collect()}
    # suffix blocks 1/3/5; "notspam.com" is NOT a dot-suffix match
    assert kept == {2, 4}
    # helpers
    h = df.select(host_of("url").alias("h")).collect()
    assert {r.h for r in h} == {"a.spam.com", "ok.example.org",
                                "spam.com", "notspam.com",
                                "deep.a.spam.com"}
    sufs = spark.createDataFrame([("a.b.com",)], "h: string") \
        .select(host_suffixes(F.col("h")).alias("s")).collect()[0].s
    assert sufs == ["a.b.com", "b.com", "com"]


def test_join_cardinality(spark):
    from preql_spark.operators.layout import join_cardinality
    left = spark.createDataFrame(
        [(1,)] * 3 + [(2,)] * 2 + [(9,)], "k: long")
    right = spark.createDataFrame(
        [(1,)] * 4 + [(2,)] + [(7,)], "k: long")
    r = join_cardinality(left, "k", right, "k").collect()[0]
    assert (r.n_left, r.n_right) == (6, 6)
    assert r.n_out == 3 * 4 + 2 * 1          # 14 exact inner-join rows
    assert r.max_key_out == 12               # key 1 dominates
    assert r.amplification == pytest.approx(14 / 6)
    # verify against the actual join
    assert left.join(right, "k").count() == r.n_out
    # disjoint keys -> zero, no null poisoning
    r0 = join_cardinality(left, "k",
                          spark.createDataFrame([(100,)], "k: long"),
                          "k").collect()[0]
    assert (r0.n_out, r0.max_key_out) == (0, 0)


def test_corpus_datacard(eng):
    from preql_spark.operators.text import corpus_datacard
    rep = corpus_datacard(eng.t.documents.df).collect()
    total = [r for r in rep if r.gid == 3]       # global rollup cell
    assert len(total) == 1
    t = total[0]
    assert t.source is None and t.lang is None
    n_docs = eng.t.documents.df.count()
    assert t.n_docs == n_docs and t.total_tokens > 0
    assert 0 <= t.dup_ratio < 1
    # per-source rows (lang rolled up) sum to the global doc count
    per_src = [r for r in rep if r.gid == 1]
    assert all(r.source is not None for r in per_src)
    assert sum(r.n_docs for r in per_src) == n_docs


def test_corpus_datacard_null_group_vs_rollup(eng):
    """A GENUINE NULL group value gets its own gid=0 cell, distinct
    from the rollup cell over that column (gid bit set) — the
    grouping_id disambiguation a crawl corpus with undetected langs
    needs."""
    from preql_spark.operators.text import corpus_datacard
    d = eng.t.documents.df.withColumn(
        "lang", F.when(F.col("doc_id") % 17 == 0,
                       F.lit(None).cast("string"))
        .otherwise(F.col("lang")))
    rep = corpus_datacard(d).collect()
    by_key = {(r.source, r.lang, r.gid): r for r in rep}
    src = next(r.source for r in rep if r.gid == 0 and r.lang is None)
    null_cell = by_key[(src, None, 0)]     # genuine NULL-lang docs
    rollup = by_key[(src, None, 1)]        # all langs of this source
    assert null_cell.n_docs < rollup.n_docs
    # the NULL-lang cells across sources sum to the global NULL count
    n_null = d.filter(F.col("lang").isNull()).count()
    assert sum(r.n_docs for r in rep
               if r.gid == 0 and r.lang is None) == n_null


def test_debounce(spark):
    """Chained near-in-time events collapse to the burst's first; a
    gap beyond the window starts a new surviving event."""
    rows = [(1, t, f"e{t}") for t in (0, 4, 8, 20, 23, 60)] \
        + [(2, 100, "x")]
    df = spark.createDataFrame(rows, "k: long, ts: long, tag: string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof.debounce(df, ["k"], "ts", window_s=5, tiebreak_cols=["tag"])
    got = sorted((r.k, r.tag) for r in out.collect())
    # k=1: 0 starts burst (4, 8 chain into it); 20 (23 chains); 60
    assert got == [(1, "e0"), (1, "e20"), (1, "e60"), (2, "x")]


def test_hll_sketch_rollup(spark, eng):
    """Merging fine sketches == sketching coarse directly (exact at
    the sketch level), and estimates land within HLL error bounds."""
    from preql_spark.operators.sketch import (hll_estimate, hll_merge,
                                              hll_rollup)
    e = eng.t.events.df.withColumn("day", F.to_date("ts"))
    daily = hll_rollup(e, ["day", "event_type"], "user_id")
    # roll daily sketches up to per-type, vs sketching per-type direct
    merged = hll_estimate(hll_merge(daily, ["event_type"]))
    direct = hll_estimate(hll_rollup(e, ["event_type"], "user_id"))
    m = {r.event_type: r.n_distinct for r in merged.collect()}
    d = {r.event_type: r.n_distinct for r in direct.collect()}
    assert m == d                      # sketch union is exact
    true = {r.event_type: r.n for r in
            e.groupBy("event_type")
            .agg(F.count_distinct("user_id").alias("n")).collect()}
    for k, est in m.items():
        assert abs(est - true[k]) <= max(2, 0.05 * true[k]), (k, est, true[k])


def test_semdedup_zero_norm_policy(spark):
    """A zero-norm vector has undefined cosine: it never matches and
    never causes a crash — and BOTH pair methods agree on that, under
    both keep rules (the drops and the pairs consumer of the shared
    gram kernel)."""
    from preql_spark.operators.cluster import semdedup
    rows = [(i, [float(i + 1)] * 4) for i in range(6)]
    rows.append((6, [0.0, 0.0, 0.0, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for keep in ("min_id", "far_from_centroid"):
        a = {r.vec_id for r in semdedup(
            df, tau=0.9, k=2, iters=1, keep=keep,
            pair_method="arrow").collect()}
        s = {r.vec_id for r in semdedup(
            df, tau=0.9, k=2, iters=1, keep=keep,
            pair_method="sql").collect()}
        assert a == s, keep
        assert 6 in a, keep  # the zero vector always survives


def test_semdedup_centroid_rule_arrow_equals_sql(eng, emb):
    """The paper-rule (far_from_centroid) path shares the salted pair
    kernel: arrow pairs == sql pairs == identical survivors, also
    under a forced-salting cap."""
    from preql_spark.operators.cluster import semdedup
    a = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=4, iters=1, keep="far_from_centroid",
        pair_method="arrow").collect()}
    s = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=4, iters=1, keep="far_from_centroid",
        pair_method="sql").collect()}
    assert a == s and len(a) > 0
    salted = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=1, iters=1, keep="far_from_centroid",
        pair_method="arrow", max_group=48).collect()}
    plain = {tuple(r) for r in semdedup(
        emb, tau=0.45, k=1, iters=1, keep="far_from_centroid",
        pair_method="sql").collect()}
    assert salted == plain and len(salted) > 0


def test_lsh_family_parameter_guards(eng, emb, docs):
    """Silent-corruption parameter edges raise: a 65th hyperplane
    would wrap onto bit 0 (JVM shifts are mod 64), simhash bit 63's
    power literal exceeds Long.MAX, and non-divisible minhash bands
    would quietly change the collision probability."""
    with pytest.raises(ValueError, match="n_planes"):
        similarity.hyperplane_signature(F.col("embedding"), 64, 65)
    with pytest.raises(ValueError, match="bits"):
        dedup.simhash_from_hashes(F.col("h"), bits=64)
    with pytest.raises(ValueError, match="bands"):
        dedup.minhash_lsh_pairs(docs, "doc_id", n_hashes=16, bands=5)
    from preql_spark.streaming.stream import incremental_neardup_ingest
    with pytest.raises(ValueError, match="bands"):
        incremental_neardup_ingest(None, "x", "y", "z",
                                   n_hashes=16, bands=5)


def test_cosine_topk_arrow_equals_hof(eng, emb):
    """The Arrow/BLAS top-k path returns exactly the HOF path's
    (query, neighbor, rank) sets with matching sims (to float64
    noise), string ids included."""
    q = emb.filter(F.col("vec_id") < 5)
    a = similarity.cosine_topk_arrow(emb, q, k=7).collect()
    h = similarity.cosine_topk(emb, q, k=7).collect()
    ak = {(r.query_id, r.neighbor_id, r.rank): r.sim for r in a}
    hk = {(r.query_id, r.neighbor_id, r.rank): r.sim for r in h}
    assert set(ak) == set(hk) and len(ak) == 35
    assert all(abs(ak[t] - hk[t]) < 1e-9 for t in ak)
    # string ids: schema follows the id columns
    s_emb = emb.selectExpr("concat('v', vec_id) vec_id", "embedding")
    s_q = s_emb.limit(3)
    rows = similarity.cosine_topk_arrow(s_emb, s_q, k=3).collect()
    assert rows and all(isinstance(r.query_id, str) for r in rows)
    # empty query side: empty result with the right columns
    assert similarity.cosine_topk_arrow(emb, q.limit(0), k=3).count() == 0


@pytest.mark.slow
def test_signature_frame_arrow_equals_hof(eng, emb):
    """The BLAS signature kernel reproduces the HOF expression's
    signatures bit-for-bit (16 and 64 planes — the 64-plane case
    exercises the uint64 sign-bit pack), and the LSH pair search is
    identical under either signature method."""
    from preql_spark.operators.similarity import signature_frame
    for planes in (16, 64):
        a = {r["__id"]: r["__sig"] for r in signature_frame(
            emb, 64, planes, method="arrow").collect()}
        h = {r["__id"]: r["__sig"] for r in signature_frame(
            emb, 64, planes, method="hof").collect()}
        assert a == h and len(a) == emb.count()
    pa_ = {(r.id_a, r.id_b) for r in similarity.lsh_cosine_pairs_exact(
        emb, 0.45, dim=64, max_hamming=7, sig_method="arrow").collect()}
    ph = {(r.id_a, r.id_b) for r in similarity.lsh_cosine_pairs_exact(
        emb, 0.45, dim=64, max_hamming=7, sig_method="hof").collect()}
    assert pa_ == ph and len(pa_) > 0
    import pytest as _pt
    with _pt.raises(ValueError, match="method"):
        signature_frame(emb, 64, 16, method="nope")


def test_kmeans_arrow_assignment_equals_hof(eng, emb):
    """The large-k batch-matmul assignment agrees with the literal-
    array argmin on the fixtures (same first-min tie rule), at both a
    small and a literal-expression-straining k."""
    from preql_spark.operators.cluster import kmeans
    for k in (8, 64):
        a, _ = kmeans(emb, k=k, iters=2, assign_method="arrow")
        h, _ = kmeans(emb, k=k, iters=2, assign_method="hof")
        am = {r.vec_id: r.cluster for r in a.collect()}
        hm = {r.vec_id: r.cluster for r in h.collect()}
        assert am == hm and len(am) == emb.count()
    import pytest as _pt
    with _pt.raises(ValueError, match="assign_method"):
        kmeans(emb, assign_method="nope")


def test_pq_encode_decode_and_adc(emb, spark):
    """PQ contract on the fixture corpus: hof and arrow encodes are
    identical; a sampled vector round-trips exactly (its own
    subvectors are codebook entries, so quantization error is 0 and
    its ADC self-distance is 0); ADC distance equals the sum of
    per-subspace LUT entries computed independently."""
    cb = similarity.pq_codebook(emb, dim=64, m=8, ksub=16)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    e_hof = similarity.pq_encode(emb, cb, method="hof")
    e_arr = similarity.pq_encode(emb, cb, method="arrow")
    h = {r.vec_id: tuple(r.pq_code)
         for r in e_hof.select("vec_id", "pq_code").collect()}
    a = {r.vec_id: tuple(r.pq_code)
         for r in e_arr.select("vec_id", "pq_code").collect()}
    assert h == a
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c)
               for c in h.values())
    # decode of a sampled (codebook-member) vector is exact
    dec = (e_hof.filter(F.col("vec_id") == 0)
           .select(similarity.pq_decode_col(F.col("pq_code"), cb)
                   .alias("rec"),
                   F.col("embedding")).collect()[0])
    orig = [float(x) for x in dec["embedding"]]
    assert [round(x, 6) for x in dec["rec"]] == \
        [round(x, 6) for x in orig]
    # ADC: self-distance of a sampled vector is 0 and ranks first
    q = emb.filter(F.col("vec_id") < 2)
    top = similarity.pq_adc_topk(e_hof, q, cb, k=3)
    rows = {(r.query_id, r.rank): (r.vec_id, r.dist)
            for r in top.collect()}
    assert rows[(0, 1)] == (0, 0.0) and rows[(1, 1)] == (1, 0.0)


def test_pq_dim_validation(emb):
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_codebook(emb, dim=64, m=7)
    cb = similarity.pq_codebook(emb, dim=64, m=8, ksub=16)
    with pytest.raises(ValueError, match="method"):
        similarity.pq_encode(emb, cb, method="nope")


def test_ivf_pq_topk_prunes_and_ranks(emb, spark):
    """IVF-PQ: candidates come ONLY from the probed cells (per-query
    candidate count < corpus), a sampled query still finds itself at
    rank 1 with ADC distance 0 (its cell is its own nearest probe),
    and full-probe IVF-PQ equals plain PQ ADC over the whole corpus."""
    q = emb.filter(F.col("vec_id") < 2)
    top = similarity.ivf_pq_topk(emb, q, k=3, dim=64, n_centroids=8,
                                 iters=2, nprobe=2)
    rows = {(r.query_id, r.rank): (r.vec_id, r.dist)
            for r in top.collect()}
    assert rows[(0, 1)] == (0, 0.0) and rows[(1, 1)] == (1, 0.0)
    # full probe == plain ADC (same codebook, same corpus)
    full = similarity.ivf_pq_topk(emb, q, k=3, dim=64, n_centroids=8,
                                  iters=2, nprobe=8)
    cb = similarity.pq_codebook(emb, dim=64, m=8, ksub=16)
    enc = similarity.pq_encode(emb, cb)
    plain = similarity.pq_adc_topk(enc, q, cb, k=3)
    assert {(r.query_id, r.rank, r.vec_id) for r in full.collect()} == \
        {(r.query_id, r.rank, r.vec_id) for r in plain.collect()}


def test_postings_phrase_search(spark):
    """Positional index + phrase semantics on crafted docs: adjacency
    (not just co-occurrence), overlapping self-matches ('a a' in
    'a a a' hits twice), single-word counting, NULL text indexes
    nothing, empty phrase raises."""
    docs = spark.createDataFrame(
        [(1, "x a b y a b"), (2, "a y b"), (3, "a a a"), (4, None)],
        "doc_id: long, text: string")
    p = text.postings(docs)
    # tf + sorted positions in the index itself
    ab = {(r.doc_id): (list(r.positions), r.tf)
          for r in p.filter("term = 'a'").collect()}
    assert ab[1] == ([1, 4], 2) and ab[3] == ([0, 1, 2], 3)
    assert p.filter("doc_id = 4").count() == 0
    got = {(r.doc_id, r.n_hits)
           for r in text.phrase_search(p, "a b").collect()}
    assert got == {(1, 2)}                       # doc2 has a..b, not "a b"
    got = {(r.doc_id, r.n_hits)
           for r in text.phrase_search(p, "a a").collect()}
    assert got == {(3, 2)}                       # overlapping matches
    got = {(r.doc_id, r.n_hits)
           for r in text.phrase_search(p, "a").collect()}
    assert got == {(1, 2), (2, 1), (3, 3)}
    import pytest as _pt
    with _pt.raises(ValueError, match="empty phrase"):
        text.phrase_search(p, "  ")


def test_pq_train_reduces_error(emb, spark):
    """Lloyd refinement must not increase total quantization error
    over the sampled-codebook init (it minimizes it per subspace),
    and on the fixture corpus it strictly improves."""
    def total_err(cb):
        enc = similarity.pq_encode(emb, cb, method="arrow")
        rec = similarity.pq_decode_col(F.col("pq_code"), cb)
        err = F.aggregate(
            F.zip_with(F.col("embedding"), rec,
                       lambda a, b: ((a.cast("double") - b)
                                     * (a.cast("double") - b))),
            F.lit(0.0), lambda acc, x: acc + x)
        return enc.agg(F.sum(err)).collect()[0][0]

    cb0 = similarity.pq_codebook(emb, dim=64, m=8, ksub=16)
    cb1 = similarity.pq_train(emb, dim=64, m=8, ksub=16, iters=2)
    e0, e1 = total_err(cb0), total_err(cb1)
    assert e1 < e0 * 0.95


def test_remove_duplicate_spans_canonical(spark):
    """The minimum-id holder keeps its copy of a shared span; every
    other holder loses exactly the covered tokens; untouched and
    short docs survive verbatim (token-joined)."""
    docs = spark.createDataFrame(
        [(1, "a b c d e tail1 x"),
         (2, "head2 a b c d e z"),          # loses the shared 5 tokens
         (3, "u1 u2 u3 u4 u5"),
         (4, "x y")],
        "doc_id: long, text: string")
    out = {r.doc_id: (r.n_tokens, r.dropped_tokens, r.text_dedup)
           for r in dedup.remove_duplicate_spans(docs, k=5).collect()}
    assert out[1] == (7, 0, "a b c d e tail1 x")
    assert out[2] == (7, 5, "head2 z")
    assert out[3] == (5, 0, "u1 u2 u3 u4 u5")
    assert out[4] == (2, 0, "x y")


def test_remove_duplicate_spans_total_loss(spark):
    """A doc whose every token is condemned rebuilds to the empty
    string but stays in the output."""
    docs = spark.createDataFrame(
        [(10, "p q r s t"), (11, "p q r s t")],
        "doc_id: long, text: string")
    out = {r.doc_id: (r.dropped_tokens, r.text_dedup)
           for r in dedup.remove_duplicate_spans(docs, k=5).collect()}
    assert out[10] == (0, "p q r s t")
    assert out[11] == (5, "")


def test_ranked_search_and_semantics(spark):
    """AND retrieval: only docs holding EVERY query term rank; the
    score is the per-term BM25 sum; OR mode admits partial matches."""
    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "apple cherry"),
         (3, "banana banana"), (4, "durian")],
        "doc_id: long, text: string")
    both = {r.doc_id for r in
            text.ranked_search(docs, "apple banana", k=10).collect()}
    assert both == {1}
    any_ = {r.doc_id for r in
            text.ranked_search(docs, "apple banana", k=10,
                               require_all=False).collect()}
    assert any_ == {1, 2, 3}
    row = text.ranked_search(docs, "apple banana", k=10).collect()[0]
    per_term = {r.token: r.bm25 for r in
                text.bm25(docs).filter("doc_id = 1").collect()}
    assert abs(row.score - (per_term["apple"] + per_term["banana"])) < 1e-12
    import pytest as _pt
    with _pt.raises(ValueError, match="empty query"):
        text.ranked_search(docs, "   ")


def test_rrf_fuse_semantics(spark):
    """RRF: score = sum_s 1/(rrf_k + rank_s), a source that missed the
    id contributes 0; ties break on ascending id; empty input raises."""
    a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)],
                              "doc_id: long, rank: int")
    b = spark.createDataFrame([(2, 1), (4, 2)],
                              "doc_id: long, rank: int")
    out = {r.doc_id: (r.rrf_score, r.rank) for r in
           text.rrf_fuse([a, b], k=10, rrf_k=60).collect()}
    assert abs(out[2][0] - (1 / 62 + 1 / 61)) < 1e-15
    assert abs(out[1][0] - 1 / 61) < 1e-15
    assert abs(out[4][0] - 1 / 62) < 1e-15
    assert abs(out[3][0] - 1 / 63) < 1e-15
    # doc 2 first (both legs), then the 1/61 vs 1/62 vs 1/63 ladder;
    # doc 1 (1/61) beats doc 4 (1/62) beats doc 3 (1/63)
    assert [d for d, (_, r) in sorted(out.items(), key=lambda kv: kv[1][1])] \
        == [2, 1, 4, 3]
    # tie: identical (rank-in-a, absent-in-b) contributions break on id
    t1 = spark.createDataFrame([(7, 1), (5, 1)],
                               "doc_id: long, rank: int")
    tied = text.rrf_fuse([t1], k=5).collect()
    assert [r.doc_id for r in sorted(tied, key=lambda r: r.rank)] == [5, 7]
    import pytest as _pt
    with _pt.raises(ValueError, match="at least one"):
        text.rrf_fuse([])


def test_hybrid_search_fuses_legs(spark):
    """hybrid_search == manual RRF of its two legs, and the arrow
    dense path returns the identical fused frame."""
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "alpha beta"), (2, "beta only"),
         (3, "alpha beta beta"), (4, "unrelated words here")],
        "doc_id: long, text: string")
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
         (3, [0.8, 0.3]), (4, [-1.0, 0.2])],
        "vec_id: long, embedding: array<double>")
    out = text.hybrid_search(docs, emb, "alpha beta", 0, k=5, n_cand=3)
    lex = text.ranked_search(docs, "alpha beta", k=3)
    from preql_spark.operators import similarity
    den = similarity.cosine_topk(emb, emb.filter("vec_id = 0"), k=3) \
        .selectExpr("neighbor_id as doc_id", "rank")
    manual = text.rrf_fuse(
        [lex.select("doc_id", "rank"), den], k=5)
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, manual.collect()))


def test_random_project_arrow_matches_hof(spark):
    """BLAS and fold paths agree to 1e-9 per coordinate, and the
    output is out_dim wide."""
    import numpy as np
    rng = np.random.RandomState(7)
    rows = [(i, [float(x) for x in rng.randn(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    hof = {r.vec_id: r.projected for r in
           similarity.random_project(df, 4, 16, method="hof").collect()}
    arr = {r.vec_id: r.projected for r in
           similarity.random_project(df, 4, 16, method="arrow").collect()}
    assert set(hof) == set(arr) and len(hof[0]) == 4
    for i in hof:
        assert max(abs(a - b) for a, b in zip(hof[i], arr[i])) < 1e-9
    import pytest as _pt
    with _pt.raises(ValueError, match="arrow/hof"):
        similarity.random_project(df, 4, 16, method="nope")


def test_random_project_preserves_distances(spark):
    """JL sanity: with out_dim comparable to dim the projected
    pairwise distances stay within a loose (1±0.75) band — the
    deterministic plane matrix behaves like a random projection, not
    a degenerate one (e.g. all-zero or rank-1)."""
    import itertools

    import numpy as np
    rng = np.random.RandomState(11)
    vecs = {i: rng.randn(32) for i in range(12)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id: long, embedding: array<double>")
    proj = {r.vec_id: np.array(r.projected) for r in
            similarity.random_project(df, 24, 32, method="arrow").collect()}
    ratios = []
    for a, b in itertools.combinations(vecs, 2):
        orig = float(np.linalg.norm(vecs[a] - vecs[b]))
        new = float(np.linalg.norm(proj[a] - proj[b]))
        ratios.append(new / orig)
    assert 0.25 < min(ratios) and max(ratios) < 1.75


def test_frequent_items_exact_under_truncation(spark):
    """frequent_items == the exact groupBy answer even when a tiny
    capacity forces Misra-Gries truncation in every partition (the
    sketch only bounds the candidate set; counts come from the exact
    recount)."""
    from preql_spark.operators import sketch
    # 6 heavy values (>= 6% each) in a sea of 3000 singletons
    rows = ([(f"h{i}",) for i in range(6) for _ in range(200 + i)]
            + [(f"noise{j}",) for j in range(3000)])
    df = spark.createDataFrame(rows, "item: string").repartition(8)
    out = {(r.item, r.cnt) for r in
           sketch.frequent_items(df, "item", phi=0.04).collect()}
    exact = {(r.item, r.cnt) for r in
             df.groupBy("item").count()
               .withColumnRenamed("count", "cnt")
               .filter(F.col("cnt") >= 169).collect()}  # ceil(.04*4215)
    assert out == exact and len(out) == 6
    # explicit tiny capacity still exact (guarantee needs cap>=2/phi;
    # verify a LARGER-than-minimum cap and the minimum itself)
    out_min = {(r.item, r.cnt) for r in
               sketch.frequent_items(df, "item", phi=0.04,
                                     capacity=50).collect()}
    assert out_min == exact
    import pytest as _pt
    with _pt.raises(ValueError, match="phi"):
        sketch.frequent_items(df, "item", phi=1.5)


def test_frequent_items_nulls_and_empty(spark):
    """NULL items never count toward n or the result; an all-null or
    empty frame returns an empty (item, cnt) frame."""
    from preql_spark.operators import sketch
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "item: string")
    out = {(r.item, r.cnt) for r in
           sketch.frequent_items(df, "item", phi=0.5).collect()}
    assert out == {("a", 2)}  # n=3, t=2: only 'a' reaches 2
    empty = spark.createDataFrame([], "item: string")
    assert sketch.frequent_items(empty, "item", phi=0.1).collect() == []


def test_scrub_contaminated_spans_crafted(spark):
    """Leaked spans are dropped (and merged when overlapping), clean
    docs pass untouched, and a fully-leaked doc keeps an empty
    string."""
    train = spark.createDataFrame(
        [(1, "a b c d e x y z"),       # leading 5-gram leaked
         (2, "p q r s t"),             # fully leaked
         (3, "clean words only here")],
        "doc_id: long, text: string")
    ev = spark.createDataFrame(
        [(100, "a b c d e"), (101, "p q r s t")],
        "doc_id: long, text: string")
    out = {r.doc_id: (r.n_tokens, r.dropped_tokens, r.text_clean)
           for r in dedup.scrub_contaminated_spans(train, ev, k=5)
           .collect()}
    assert out[1] == (8, 5, "x y z")
    assert out[2] == (5, 5, "")
    assert out[3] == (4, 0, "clean words only here")
    # overlapping leaked grams merge into ONE maximal span
    train2 = spark.createDataFrame(
        [(7, "a b c d e f tail")], "doc_id: long, text: string")
    ev2 = spark.createDataFrame(
        [(0, "a b c d e"), (1, "b c d e f")],
        "doc_id: long, text: string")
    row = dedup.scrub_contaminated_spans(train2, ev2, k=5).collect()[0]
    assert (row.n_tokens, row.dropped_tokens, row.text_clean) \
        == (7, 6, "tail")


def test_scrub_contaminated_spans_plan_broadcast(spark):
    """The eval gram set reaches the train scan as a broadcast
    LeftSemi — one train pass, no corpus-keyed shuffle of text."""
    train = spark.createDataFrame(
        [(i, f"w{i} x{i} y{i} z{i} q{i}") for i in range(50)],
        "doc_id: long, text: string")
    ev = spark.createDataFrame(
        [(0, "w1 x1 y1 z1 q1")], "doc_id: long, text: string")
    out = dedup.scrub_contaminated_spans(train, ev, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_topk_per_group_matches_window(spark):
    """topk_per_group equals the row_number-window spelling
    (deterministic tie contract), including groups smaller than k."""
    from preql_spark.operators.topk import topk_per_group
    rows = [(g, i, float((i * 7) % 5)) for g in ("a", "b", "c")
            for i in range(g != "c" and 20 or 2)]
    df = spark.createDataFrame(rows, "g: string, id: long, v: double") \
        .repartition(6)
    from pyspark.sql import Window
    w = Window.partitionBy("g").orderBy(F.col("v").desc(), F.col("id"))
    want = {(r.g, r.id, r.v, r.rank) for r in
            df.withColumn("rank", F.row_number().over(w))
              .filter("rank <= 4").collect()}
    got_agg = {(r.g, r.id, r.v, r.rank) for r in
               topk_per_group(df, ["g"], "v", 4, tie_col="id").collect()}
    assert got_agg == want
    import pytest as _pt
    with _pt.raises(ValueError, match="k must be"):
        topk_per_group(df, ["g"], "v", 0)


def test_dsir_composition_deterministic(spark):
    """The LLR -> E-S resample composition is a pure function of the
    data (two runs identical) and selection tilts toward the target
    domain (mean score of kept docs > corpus mean score)."""
    from preql_spark.operators.text import llr_importance
    rows = [(i, "alpha beta target" if i % 2 else "gamma delta other",
             "tgt" if i % 2 else "bg") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string, source: string")
    scored = llr_importance(df, F.col("source") == "tgt")

    def run():
        from preql_spark.operators.text import portable_hash
        m = 1 << 40
        u = (portable_hash(F.col("doc_id").cast("string")) % m + 1) \
            / float(m + 1)
        s = F.log(u) / F.exp(F.col("score"))
        return [r.doc_id for r in scored.withColumn("__s", s)
                .orderBy(F.col("__s").desc()).limit(20).collect()]

    a, b = run(), run()
    assert a == b and len(a) == 20
    kept_mean = (scored.filter(F.col("doc_id").isin(a))
                 .agg(F.avg("score")).collect()[0][0])
    all_mean = scored.agg(F.avg("score")).collect()[0][0]
    assert kept_mean > all_mean


def test_rrf_fuse_weighted(spark):
    """Weighted RRF: score = sum_s w_s/(rrf_k + rank_s); a big enough
    weight on one leg overrides the other leg's consensus; mismatched
    weight lists raise."""
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id: long, rank: int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id: long, rank: int")
    out = {r.doc_id: r.rrf_score for r in
           text.rrf_fuse([a, b], k=10, rrf_k=60,
                         weights=[3.0, 1.0]).collect()}
    assert abs(out[1] - 3 / 61) < 1e-15
    assert abs(out[2] - (3 / 62 + 1 / 61)) < 1e-15
    assert abs(out[3] - 1 / 62) < 1e-15
    # unweighted doc 2 (both legs) wins; with w=[3,1] doc 2 still wins
    # (3/62+1/61 > 3/61) is FALSE: 3/62+1/61 ~ 0.0648 > 3/61 ~ 0.0492
    ranks = {r.doc_id: r.rank for r in
             text.rrf_fuse([a, b], weights=[3.0, 1.0]).collect()}
    assert ranks[2] == 1 and ranks[1] == 2 and ranks[3] == 3
    with pytest.raises(ValueError, match="weights must match"):
        text.rrf_fuse([a, b], weights=[1.0])


def test_quantile_rollup_levels(eng):
    """ROLLUP quantiles equal per-level exact percentiles computed
    separately; the approx twin lands within interpolation slack; a
    string group spec coerces; bad inputs raise."""
    from preql_spark.operators.sketch import quantile_rollup
    o = eng.t.orders.df
    out = quantile_rollup(o, ["o_orderstatus", "o_orderpriority"],
                          "o_totalprice", [0.5, 0.9])
    rows = {(r.o_orderstatus, r.o_orderpriority): (r.n, r.p50, r.p90)
            for r in out.collect()}
    # grand-total row (both NULL) matches a direct global percentile
    g = o.agg(F.count(F.lit(1)).alias("n"),
              F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
              F.percentile("o_totalprice", F.lit(0.9)).alias("p90")) \
         .collect()[0]
    assert rows[(None, None)] == (g.n, g.p50, g.p90)
    # one mid-level row matches the per-status percentile
    st = o.filter(F.col("o_orderstatus") == "F") \
          .agg(F.count(F.lit(1)).alias("n"),
               F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
               F.percentile("o_totalprice", F.lit(0.9)).alias("p90")) \
          .collect()[0]
    assert rows[("F", None)] == (st.n, st.p50, st.p90)
    # level count: groups + statuses + 1 grand total
    n_fine = o.select("o_orderstatus", "o_orderpriority").distinct().count()
    n_stat = o.select("o_orderstatus").distinct().count()
    assert len(rows) == n_fine + n_stat + 1
    # the mergeable approx twin stays close at every level
    ap = {(r.o_orderstatus, r.o_orderpriority): (r.p50, r.p90)
          for r in quantile_rollup(o, ["o_orderstatus", "o_orderpriority"],
                                   "o_totalprice", [0.5, 0.9],
                                   approx=True).collect()}
    for key, (n, p50, p90) in rows.items():
        a50, a90 = ap[key]
        assert abs(a50 - p50) / max(abs(p50), 1.0) < 0.05
        assert abs(a90 - p90) / max(abs(p90), 1.0) < 0.05
    # str coercion mirrors the single-col list
    s1 = quantile_rollup(o, "o_orderstatus", "o_totalprice", 0.5)
    s2 = quantile_rollup(o, ["o_orderstatus"], "o_totalprice", [0.5])
    assert sorted(map(tuple, s1.collect()),
                  key=lambda t: (t[0] or "",) + t[1:]) == \
        sorted(map(tuple, s2.collect()),
               key=lambda t: (t[0] or "",) + t[1:])
    from preql_spark.operators.sketch import quantile_rollup as qr
    with pytest.raises(ValueError, match="group col"):
        qr(o, [], "o_totalprice", [0.5])
    with pytest.raises(ValueError, match="quantile"):
        qr(o, ["o_orderstatus"], "o_totalprice", [])
    with pytest.raises(ValueError, match="outside"):
        qr(o, ["o_orderstatus"], "o_totalprice", [1.5])


def test_mmr_diversify_demotes_redundancy(spark):
    """MMR semantics on crafted vectors: the #2-by-relevance candidate
    is a near-clone of #1, so with lam=0.5 it falls behind a less
    relevant but orthogonal candidate; pick 1 is the pure-relevance
    argmax; early stop when k exceeds the candidate count."""
    from preql_spark.operators.similarity import mmr_diversify
    rows = [
        # id, rel, vector: 10/11 nearly parallel, 12 orthogonal
        (10, 0.99, [1.0, 0.0, 0.0]),
        (11, 0.98, [0.999, 0.01, 0.0]),
        (12, 0.60, [0.0, 1.0, 0.0]),
    ]
    cand = spark.createDataFrame(
        rows, "vec_id: long, rel: double, embedding: array<double>")
    out = mmr_diversify(cand, k=3, lam=0.5)
    picks = [r.vec_id for r in sorted(out.collect(),
                                      key=lambda r: r.pick)]
    # 10 first (max rel); then 12: 0.5*0.60 - 0.5*0.0 = 0.30 beats
    # 11's 0.5*0.98 - 0.5*~1.0 ~ -0.01; 11 last
    assert picks == [10, 12, 11]
    got = {r.pick: r for r in out.collect()}
    assert abs(got[1].mmr_score - 0.5 * 0.99) < 1e-12
    assert got[1].rel == 0.99
    # k > candidates: stops at 3 picks
    assert mmr_diversify(cand, k=10, lam=0.5).count() == 3
    with pytest.raises(ValueError, match="k must"):
        mmr_diversify(cand, k=0)
    with pytest.raises(ValueError, match="lam must"):
        mmr_diversify(cand, k=2, lam=1.5)


def test_mmr_lam_one_is_pure_relevance(spark):
    """lam=1.0 disables the diversity penalty: picks follow relevance
    order exactly, ties on ascending id."""
    from preql_spark.operators.similarity import mmr_diversify
    rows = [(1, 0.9, [1.0, 0.0]), (2, 0.9, [0.0, 1.0]),
            (3, 0.5, [0.7, 0.7])]
    cand = spark.createDataFrame(
        rows, "vec_id: long, rel: double, embedding: array<double>")
    out = sorted(mmr_diversify(cand, k=3, lam=1.0).collect(),
                 key=lambda r: r.pick)
    assert [r.vec_id for r in out] == [1, 2, 3]


def test_temperature_mixture_flattens_skew(eng):
    """alpha=0.5 temperature sampling: a skewed group distribution
    comes out flatter — the big group's kept share drops below its
    natural share, small groups' rise — with expected total near
    target_rows; alpha=1.0 preserves natural shares; bad args raise."""
    d = eng.from_df(eng.t.documents.df.withColumn(
        "grp", F.substring("source", 4, 1)))
    nat = {r.grp: r["count"] for r in
           d.df.groupBy("grp").count().collect()}
    n = sum(nat.values())
    out = d.temperature_mixture("grp", "doc_id", 200, alpha=0.5)
    kept = {r.grp: r["count"] for r in
            out.df.groupBy("grp").count().collect()}
    total = sum(kept.values())
    assert abs(total - 200) < 60  # hash-rule variance at n=500
    big = max(nat, key=lambda g: nat[g])
    small = min(nat, key=lambda g: nat[g])
    # flattening: the biggest group's kept share < its natural share,
    # the smallest group's kept share > its natural share
    assert kept[big] / total < nat[big] / n
    assert kept.get(small, 0) / total > nat[small] / n * 0.5
    # alpha=1.0: ratios are a uniform scale of natural shares — every
    # group keeps ~target/n of itself (same threshold for all groups)
    import math
    out1 = d.temperature_mixture("grp", "doc_id", 200, alpha=1.0)
    kept1 = {r.grp: r["count"] for r in
             out1.df.groupBy("grp").count().collect()}
    # same keep-threshold everywhere => per-group keep rate roughly
    # uniform; check the big group is NOT downweighted vs natural
    assert abs(sum(kept1.values()) - 200) < 60
    with pytest.raises(ValueError, match="alpha"):
        d.temperature_mixture("grp", "doc_id", 100, alpha=0.0)
    with pytest.raises(ValueError, match="target_rows"):
        d.temperature_mixture("grp", "doc_id", -1)


def test_budget_select_equals_naive_prefix(eng):
    """The bucketed budget_select == the naive global running-sum
    prefix for several budgets and bucket counts (including
    n_buckets=1, the degenerate all-in-one-bucket case); zero budget
    keeps nothing; huge budget keeps everything."""
    from preql_spark.operators.text import budget_select, token_count
    d = eng.t.documents.df.select(
        "doc_id", F.length("text").cast("long").alias("q"),
        token_count(F.col("text")).cast("int").alias("tok"))
    rows = sorted((r.q, r.doc_id, r.tok) for r in d.collect())
    order = sorted(rows, key=lambda t: (-t[0], t[1]))
    for budget in (0, 500, 15000, 10**9):
        cum, want = 0, set()
        for q, i, tok in order:
            cum += tok
            if cum > budget:
                break
            want.add(i)
        for nb in (1, 4, 16):
            got = {r.doc_id for r in
                   budget_select(d, budget, "q", "tok",
                                 n_buckets=nb).collect()}
            assert got == want, (budget, nb, len(got), len(want))
    with pytest.raises(ValueError, match="budget"):
        budget_select(d, -1, "q", "tok")
    with pytest.raises(ValueError, match="n_buckets"):
        budget_select(d, 10, "q", "tok", n_buckets=0)


def test_interleave_sources_uniform_progress(eng):
    """Proportional interleave: any prefix of the layout contains each
    source in near-equal PROPORTION of itself (max lag < 1 row by
    construction: positions r/c are equi-spaced per source); the
    layout is a deterministic permutation (re-run identical), and the
    within-source order is the content-hash rule, not id order."""
    d = eng.t.documents
    out = d.interleave_sources("source", "doc_id")
    rows = out.df.select("doc_id", "source", "pos").collect()
    n = {r.source: 0 for r in rows}
    tot = {}
    for r in rows:
        tot[r.source] = tot.get(r.source, 0) + 1
    # walk the layout in pos order; after each row, every source's
    # consumed fraction stays within 1/c of the global fraction
    seen_global = 0
    for r in sorted(rows, key=lambda r: (r.pos, r.source, r.doc_id)):
        n[r.source] += 1
        seen_global += 1
        f = seen_global / len(rows)
        for s, c in tot.items():
            assert n[s] / c <= f + 1.0 / c + 1e-9
    # determinism
    again = out.df.select("doc_id", "source", "pos").collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    # not id order: the hash permutation must reorder at least one
    # source's rows relative to ascending doc_id
    by_src = {}
    for r in sorted(rows, key=lambda r: r.pos):
        by_src.setdefault(r.source, []).append(r.doc_id)
    assert any(ids != sorted(ids) for ids in by_src.values())


def test_retrieve_refine_diversify_composition(eng, emb):
    """q159's composition invariants: every MMR pick is one of the
    IVF-PQ candidates; pick 1 is the exact-cosine argmax of the
    candidate set; k bounds the output."""
    from preql_spark.operators import similarity as S
    q0 = emb.filter(F.col("vec_id") < 1)
    top = S.ivf_pq_topk(emb, q0, k=10, dim=64, n_centroids=8, iters=2,
                        nprobe=2, m=8, ksub=16, tie_digits=4)
    cand_ids = {r.vec_id for r in top.select("vec_id").collect()}
    cand = (top.select("vec_id")
            .join(emb.select("vec_id", "embedding"), "vec_id")
            .crossJoin(F.broadcast(
                q0.select(F.col("embedding").alias("__qv"))))
            .select("vec_id", "embedding",
                    S.cosine(F.col("embedding"),
                             F.col("__qv")).alias("rel")))
    out = sorted(S.mmr_diversify(cand, k=4, lam=0.7).collect(),
                 key=lambda r: r.pick)
    assert len(out) == 4
    assert {r.vec_id for r in out} <= cand_ids
    rels = {r.vec_id: r.rel for r in cand.collect()}
    best = max(sorted(rels), key=lambda i: (round(rels[i], 4), -i))
    assert out[0].vec_id == best


def test_bpe_merge_pair_matches_python_model(spark):
    """The greedy merge fold == reference BPE left-to-right
    non-overlapping semantics, pinned against a Python model on
    crafted overlap/run/boundary cases."""
    from preql_spark.operators.text import bpe_merge_pair
    cases = ["a b a b c", "a a a", "a a a a", "", "solo",
             "b a b a b", "a b b a b", "x a b", "a b"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)],
                               "i: long, text: string")
    got = {r.i: list(r.m) for r in
           df.select("i", bpe_merge_pair(F.col("text"), "a", "b")
                     .alias("m")).collect()}

    def model(text, left, right, joiner="▁"):
        toks = text.strip().split() if text.strip() else [""]
        out, i = [], 0
        while i < len(toks):
            if (i + 1 < len(toks) and toks[i] == left
                    and toks[i + 1] == right):
                out.append(left + joiner + right)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        return out

    for i, t in enumerate(cases):
        assert got[i] == model(t, "a", "b"), (t, got[i])
    # the aa-run case: 'a a a' with (a, a) merges the FIRST two only
    run = {r.i: list(r.m) for r in
           df.select("i", bpe_merge_pair(F.col("text"), "a", "a")
                     .alias("m")).collect()}
    for i, t in enumerate(cases):
        assert run[i] == model(t, "a", "a"), (t, run[i])


def test_pair_counts_and_diversity_semantics(spark):
    """adjacent_pair_counts == the zip model; ngram_diversity counts
    exact distinct/total bigrams; short docs contribute nothing."""
    from preql_spark.operators.text import (adjacent_pair_counts,
                                            ngram_diversity)
    df = spark.createDataFrame(
        [(0, "a b a b c", "s"), (1, "", "s"), (2, "x", "s"),
         (3, "a b", "t")],
        "doc_id: long, text: string, source: string")
    got = {(r.left, r.right): r.cnt for r in
           adjacent_pair_counts(df).collect()}
    assert got == {("a", "b"): 3, ("b", "a"): 1, ("b", "c"): 1}
    top = adjacent_pair_counts(df, k=2).collect()
    assert [(r.left, r.right, r.rank) for r in
            sorted(top, key=lambda r: r.rank)] == \
        [("a", "b", 1), ("b", "a", 2)]
    div = {r.source: (r.total, r.n_distinct, r.diversity) for r in
           ngram_diversity(df, 2, "source").collect()}
    assert div == {"s": (4, 3, 0.75), "t": (1, 1, 1.0)}
    import pytest as _pt
    with _pt.raises(ValueError, match="n must"):
        ngram_diversity(df, 0, "source")


def test_budget_select_and_temperature_null_handling(spark, eng):
    """budget_select tolerates NULL token counts (SQL sum-over
    semantics: a NULL-token row leaves the running total unchanged);
    temperature_mixture raises a clear error on NULL groups instead
    of silently dropping their rows."""
    from preql_spark.operators.text import budget_select
    d = spark.createDataFrame(
        [(1, 10, 5), (2, 9, None), (3, 8, 5), (4, 7, None)],
        "doc_id: long, q: long, tok: int")
    got = {r.doc_id for r in
           budget_select(d, 5, "q", "tok", n_buckets=2).collect()}
    # order (10, 9, 8, 7): cum 5, 5, 10(>5 stop) — the NULL-token doc
    # rides along while cum <= budget
    assert got == {1, 2}
    nulls = eng.from_df(eng.t.documents.df.withColumn(
        "g", F.when(F.col("doc_id") % 2 == 0, F.lit(None))
              .otherwise(F.col("source"))))
    with pytest.raises(ValueError, match="contains NULLs"):
        nulls.temperature_mixture("g", "doc_id", 10)


def test_topk_per_group_null_order_values(spark):
    """NULL order values rank LAST in both directions (r6 advice:
    struct comparison treated NULL as smallest, silently ranking NULL
    rows FIRST in descending mode)."""
    from pyspark.sql import Window
    from preql_spark.operators.topk import topk_per_group
    rows = [("a", 1, 7.0), ("a", 2, None), ("a", 3, 5.0),
            ("a", 4, None), ("a", 5, 9.0),
            ("b", 6, None), ("b", 7, 1.0)]
    df = spark.createDataFrame(rows, "g: string, id: long, v: double") \
        .repartition(4)
    for desc in (True, False):
        okey = (F.col("v").desc_nulls_last() if desc
                else F.col("v").asc_nulls_last())
        w = Window.partitionBy("g").orderBy(okey, F.col("id"))
        want = {(r.g, r.id, r.rank) for r in
                df.withColumn("rank", F.row_number().over(w))
                  .filter("rank <= 2").collect()}
        got = {(r.g, r.id, r.rank) for r in
               topk_per_group(df, ["g"], "v", 2, tie_col="id",
                              descending=desc).collect()}
        assert got == want, (desc, got, want)
    # NULL tie values rank last too (the window's asc_nulls_last)
    df2 = spark.createDataFrame(
        [("a", i, 1.0, None if i % 2 else i) for i in range(6)],
        "g: string, id: long, v: double, t: long").repartition(3)
    w2 = Window.partitionBy("g").orderBy(F.col("v").desc_nulls_last(),
                                         F.col("t").asc_nulls_last())
    want2 = {(r.g, r.id, r.rank) for r in
             df2.withColumn("rank", F.row_number().over(w2))
                .filter("rank <= 3").collect()}
    got2 = {(r.g, r.id, r.rank) for r in
            topk_per_group(df2, ["g"], "v", 3, tie_col="t").collect()}
    assert got2 == want2 == {("a", 0, 1), ("a", 2, 2), ("a", 4, 3)}


def test_phrase_search_punctuated_terms(spark):
    """Phrase tokens containing dots/backticks work: pivot columns
    are synthetic labels, never raw terms (r6 advice: 'wide[w]'
    parsed 'end.' as a nested attribute path and crashed)."""
    docs = spark.createDataFrame(
        [(1, "the end. a new start"), (2, "end. the a start"),
         (3, "a `b` c"), (4, "no match here")],
        "doc_id: long, text: string")
    p = text.postings(docs)
    got = {(r.doc_id, r.n_hits)
           for r in text.phrase_search(p, "end. a").collect()}
    assert got == {(1, 1)}
    got = {(r.doc_id, r.n_hits)
           for r in text.phrase_search(p, "a `b` c").collect()}
    assert got == {(3, 1)}


def test_pq_adc_topk_string_ids(spark):
    """pq_adc_topk accepts a non-long id column (r6 advice: the LUT
    frame hardcoded 'query_id long'); results equal the long-id run
    modulo the id rename."""
    import random
    rnd = random.Random(7)
    rows = [(i, [rnd.uniform(-1, 1) for _ in range(16)])
            for i in range(80)]
    emb = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    cb = similarity.pq_codebook(emb, dim=16, m=4, ksub=8)
    enc = similarity.pq_encode(emb, cb)
    q_long = emb.filter("vec_id < 2")
    q_str = q_long.withColumn("vec_id", F.concat(F.lit("q"), "vec_id"))
    want = {(f"q{r.query_id}", r.rank, r.vec_id) for r in
            similarity.pq_adc_topk(enc, q_long, cb, k=3).collect()}
    got = {(r.query_id, r.rank, r.vec_id) for r in
           similarity.pq_adc_topk(enc, q_str, cb, k=3).collect()}
    assert got == want and len(got) == 6


def test_frequent_items_unpersists_summaries(spark):
    """frequent_items leaves no cached RDDs behind (r6 advice: the
    returned plan referenced the persisted summaries, so repeated
    calls accumulated cached partitions)."""
    from preql_spark.operators.sketch import frequent_items
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    items = spark.createDataFrame(
        [(("hot" if i % 3 == 0 else f"cold{i}"),) for i in range(600)],
        "item: string")
    for _ in range(3):
        out = frequent_items(items, "item", phi=0.2)
        assert {r.item for r in out.collect()} == {"hot"}
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    assert after <= before


# ---- event analytics (operators/events.py) --------------------------------

def test_funnel_semantics(spark):
    """Crafted funnel: step order enforced, same-ts never advances,
    anchored window cuts late completions, validation errors."""
    from preql_spark.operators.events import funnel
    rows = [
        # u1 completes a->b->c in order
        (1, "2024-01-01 00:00:00", "a"), (1, "2024-01-01 01:00:00", "b"),
        (1, "2024-01-01 02:00:00", "c"),
        # u2 has b before a: only a counts (its b precedes its a)
        (2, "2024-01-01 00:00:00", "b"), (2, "2024-01-01 01:00:00", "a"),
        # u3: a and b at the SAME ts -> b does not advance
        (3, "2024-01-01 00:00:00", "a"), (3, "2024-01-01 00:00:00", "b"),
        # u4 completes but step c lands past the 3h anchored window
        (4, "2024-01-01 00:00:00", "a"), (4, "2024-01-01 01:00:00", "b"),
        (4, "2024-01-01 04:00:00", "c"),
        # u5 never does step a
        (5, "2024-01-01 00:00:00", "b"), (5, "2024-01-01 01:00:00", "c"),
    ]
    df = spark.createDataFrame(
        [(u, ts, t) for u, ts, t in rows],
        "user_id: long, ts: string, event_type: string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {(r.step_idx, r.step): r.n_users
           for r in funnel(df, ["a", "b", "c"]).collect()}
    assert out == {(1, "a"): 4, (2, "b"): 2, (3, "c"): 2}
    win = {(r.step_idx, r.step): r.n_users
           for r in funnel(df, ["a", "b", "c"],
                           within_seconds=3 * 3600).collect()}
    assert win == {(1, "a"): 4, (2, "b"): 2, (3, "c"): 1}
    import pytest as _pt
    with _pt.raises(ValueError, match="non-empty"):
        funnel(df, [])
    with _pt.raises(ValueError, match="distinct"):
        funnel(df, ["a", "a"])


def test_funnel_later_anchor_never_reanchors(spark):
    """A second step-1 event inside the data does NOT re-open the
    window (the anchored contract): u1's second 'a' would allow the
    'b' if windows re-anchored, but must not."""
    from preql_spark.operators.events import funnel
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"),
         (1, "2024-01-01 10:00:00", "a"),
         (1, "2024-01-01 10:30:00", "b")],
        "user_id: long, ts: string, event_type: string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {(r.step_idx): r.n_users
           for r in funnel(df, ["a", "b"],
                           within_seconds=3600).collect()}
    assert out == {1: 1, 2: 0}


def test_cohort_retention_semantics(spark):
    """Two users, known offsets; period anchored per user, distinct
    users counted once per cell."""
    from preql_spark.operators.events import cohort_retention
    df = spark.createDataFrame(
        [(1, "2024-01-01"), (1, "2024-01-05"), (1, "2024-01-09"),
         (2, "2024-01-02"), (2, "2024-01-02"), (2, "2024-01-16")],
        "user_id: long, ts: string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {(str(r.cohort_start), r.period_offset): r.n_users
           for r in cohort_retention(df, period_days=7).collect()}
    assert out == {("2024-01-01", 0): 1, ("2024-01-01", 1): 1,
                   ("2024-01-02", 0): 1, ("2024-01-02", 2): 1}
    import pytest as _pt
    with _pt.raises(ValueError, match="period_days"):
        cohort_retention(df, period_days=0)


def test_transition_counts_semantics(spark):
    """Per-user consecutive pairs; last event contributes nothing;
    same-ts events sequence by the tie column."""
    from preql_spark.operators.events import transition_counts
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1, "x"),
         (1, "2024-01-01 00:00:00", 2, "y"),   # tie -> x precedes y
         (1, "2024-01-01 01:00:00", 3, "x"),
         (2, "2024-01-01 00:00:00", 4, "y")],
        "user_id: long, ts: string, event_id: long, event_type: string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {(r.src, r.dst): r.cnt
           for r in transition_counts(df).collect()}
    assert out == {("x", "y"): 1, ("y", "x"): 1}


def test_winsorize_matches_manual(spark):
    """Clipped values equal numpy's interpolated-percentile clip per
    group; output keeps all input columns; bad percentiles raise."""
    import numpy as np
    from preql_spark.operators.events import winsorize
    vals = {"g1": [float(x) for x in range(1, 21)],
            "g2": [5.0, 100.0, -3.0, 8.0, 9.0]}
    rows = [(g, i, v) for g, vs in vals.items()
            for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "g: string, i: long, v: double")
    out = {(r.g, r.i): r.v_w
           for r in winsorize(df, ["g"], "v", 0.1, 0.9).collect()}
    for g, vs in vals.items():
        lo, hi = np.percentile(vs, [10, 90])
        for i, v in enumerate(vs):
            assert abs(out[(g, i)] - min(max(v, lo), hi)) < 1e-9
    import pytest as _pt
    with _pt.raises(ValueError, match="p_lo"):
        winsorize(df, ["g"], "v", 0.9, 0.1)


def test_ewma_matches_pandas(spark):
    """The fold equals pandas ewm(adjust=False) per group, ordering
    by (ts, tie); alpha validation."""
    import pandas as pd
    from preql_spark.operators.events import ewma
    rows = [("a", i, float((i * 13) % 7) + 0.25) for i in range(10)] \
        + [("b", i, float(i)) for i in range(3)]
    df = spark.createDataFrame(
        [(g, f"2024-01-01 00:{i:02d}:00", i, v) for g, i, v in rows],
        "g: string, ts: string, k: long, v: double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r.g: (r.n, r.ewma)
           for r in ewma(df, ["g"], "ts", "v", 0.3,
                         tie_col="k").collect()}
    for g in ("a", "b"):
        vs = [v for gg, _, v in rows if gg == g]
        want = pd.Series(vs).ewm(alpha=0.3, adjust=False).mean().iloc[-1]
        assert out[g][0] == len(vs)
        assert abs(out[g][1] - want) < 1e-12
    import pytest as _pt
    with _pt.raises(ValueError, match="alpha"):
        ewma(df, ["g"], "ts", "v", 0.0)


# ---- fuzzy matching (operators/fuzzy.py) ----------------------------------

def _brute_lev(a, b):
    m, n = len(a), len(b)
    dp = list(range(n + 1))
    for i in range(1, m + 1):
        prev, dp[0] = dp[0], i
        for j in range(1, n + 1):
            cur = dp[j]
            dp[j] = min(dp[j] + 1, dp[j - 1] + 1,
                        prev + (a[i - 1] != b[j - 1]))
            prev = cur
    return dp[n]


def test_fuzzy_pairs_matches_brute_force(spark):
    """ED-Join blocking is exact and complete on a fixture mixing
    dupes, near-dupes, shorts (including len < q and empty), and
    NULLs — at d = 0, 1, 2."""
    import itertools
    from preql_spark.operators.fuzzy import fuzzy_pairs
    rows = [(1, "hello world"), (2, "hello worlde"), (3, "hallo world"),
            (4, "completely different"), (5, "hello world"),
            (6, "ab"), (7, "abc"), (8, "b"), (9, ""), (10, None),
            (11, "xy"), (12, "hello wrold")]
    df = spark.createDataFrame(rows, "id: long, s: string")
    for d in (0, 1, 2):
        got = sorted((r.id1, r.id2, r.dist)
                     for r in fuzzy_pairs(df, "id", "s", d).collect())
        want = sorted(
            (a, b, _brute_lev(sa, sb))
            for (a, sa), (b, sb) in itertools.combinations(rows, 2)
            if sa is not None and sb is not None
            and _brute_lev(sa, sb) <= d)
        assert got == want, (d, got, want)
    import pytest as _pt
    with _pt.raises(ValueError, match="max_dist"):
        fuzzy_pairs(df, "id", "s", -1)
    with _pt.raises(ValueError, match="q must be"):
        fuzzy_pairs(df, "id", "s", 1, q=1)


def test_fuzzy_pairs_random_small_alphabet(spark):
    """Randomized differential check over a 3-letter alphabet (dense
    near-dup space stresses both the gram and band paths)."""
    import itertools
    import random
    from preql_spark.operators.fuzzy import fuzzy_pairs
    rnd = random.Random(42)
    strs = ["".join(rnd.choice("abc") for _ in range(rnd.randint(0, 8)))
            for _ in range(60)]
    rows = list(enumerate(strs))
    df = spark.createDataFrame(rows, "id: long, s: string")
    for d in (1, 2):
        got = sorted((r.id1, r.id2, r.dist)
                     for r in fuzzy_pairs(df, "id", "s", d).collect())
        want = sorted(
            (a, b, _brute_lev(sa, sb))
            for (a, sa), (b, sb) in itertools.combinations(rows, 2)
            if _brute_lev(sa, sb) <= d)
        assert got == want, f"d={d}"


def test_funnel_times_per_user(spark):
    """funnel_times returns each user's chain completion timestamps,
    NULL after the chain breaks; only step-1 users appear; rows agree
    with the aggregate funnel counts."""
    from preql_spark.operators.events import funnel, funnel_times
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", "a"), (1, "2024-01-01 01:00:00", "b"),
         (2, "2024-01-01 02:00:00", "a"),
         (3, "2024-01-01 00:00:00", "b")],
        "user_id: long, ts: string, event_type: string") \
        .withColumn("ts", F.to_timestamp("ts"))
    rows = {r.user_id: (str(r.t1), r.t2 and str(r.t2))
            for r in funnel_times(df, ["a", "b"]).collect()}
    assert rows == {1: ("2024-01-01 00:00:00", "2024-01-01 01:00:00"),
                    2: ("2024-01-01 02:00:00", None)}
    counts = {r.step_idx: r.n_users
              for r in funnel(df, ["a", "b"]).collect()}
    assert counts == {1: 2, 2: 1}


def test_rfm_scores_semantics(spark):
    """Known tiles on a crafted user table: integer-cents monetary,
    recency vs the corpus max date, ntile tie-break by user id."""
    from preql_spark.operators.events import rfm_scores
    # users 1..4: later users are older, less frequent, lower spend
    rows = []
    for u in range(1, 5):
        for k in range(5 - u):
            rows.append((u, f"2024-01-{10 - 2 * u:02d} 00:00:00",
                         float(10 * u) + 0.005))
    df = spark.createDataFrame(
        rows, "user_id: long, ts: string, value: double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r.user_id: r for r in rfm_scores(df, n_tiles=2).collect()}
    assert [out[u].r_days for u in (1, 2, 3, 4)] == [0, 2, 4, 6]
    assert [out[u].freq for u in (1, 2, 3, 4)] == [4, 3, 2, 1]
    # 10.005 rounds HALF-UP to 1001 cents per row — exact integers
    assert out[1].monetary_cents == 4 * 1001
    assert [out[u].r_score for u in (1, 2, 3, 4)] == [1, 1, 2, 2]
    assert [out[u].f_score for u in (1, 2, 3, 4)] == [1, 1, 2, 2]
    # monetary totals: u1=4*1001=4004, u2=3*2001=6003, u3=2*3001=6002,
    # u4=1*4001=4001 — descending order is u2, u3, u1, u4
    assert [out[u].m_score for u in (1, 2, 3, 4)] == [2, 1, 1, 2]
    import pytest as _pt
    with _pt.raises(ValueError, match="n_tiles"):
        rfm_scores(df, n_tiles=0)


def test_rfm_scores_scale_safe_path_differential(spark):
    """The windowed (shared single-sort ntile) and scale-safe
    (range-repartition + partition-offset rank) tile stages are the
    SAME function: bit-identical output on tie-heavy multi-partition
    data across every ntile remainder regime — rem == 0 (n_tiles=2:
    40 = 20*2), 0 < rem < n (n_tiles=7: 40 = 5*7 + 5), and
    total < n_tiles (n_tiles=1000 over 40 users) — and with the
    broadcast-join offsets branch forced on."""
    from preql_spark.operators import events as EV
    # 40 users, heavy ties on every score axis: r_days cycles over 3
    # values, freq over 4, monetary over 5 — the ascending-user
    # tie-break does all the ordering work
    rows = []
    for u in range(1, 41):
        for _ in range(u % 4 + 1):
            rows.append((u, f"2024-01-{10 + u % 3:02d} 00:00:00",
                         float((u % 5) * 10) + 0.005))
    df = spark.createDataFrame(
        rows, "user_id: long, ts: string, value: double") \
        .withColumn("ts", F.to_timestamp("ts")).repartition(7)
    for n_tiles in (2, 7, 1000):
        a = sorted(map(tuple, EV.rfm_scores(
            df, n_tiles=n_tiles, windowed=True).collect()))
        b = sorted(map(tuple, EV.rfm_scores(
            df, n_tiles=n_tiles, windowed=False).collect()))
        assert a == b, f"n_tiles={n_tiles}"
    # force the broadcast-offsets branch (normally >=64 partitions)
    old = EV.OFFSETS_BROADCAST_MIN_PARTS
    try:
        EV.OFFSETS_BROADCAST_MIN_PARTS = 1
        c = sorted(map(tuple, EV.rfm_scores(
            df, n_tiles=7, windowed=False).collect()))
    finally:
        EV.OFFSETS_BROADCAST_MIN_PARTS = old
    assert c == sorted(map(tuple, EV.rfm_scores(
        df, n_tiles=7, windowed=True).collect()))
    # the auto threshold picks the scale-safe branch when forced low
    d = sorted(map(tuple, EV.rfm_scores(
        df, n_tiles=7, windowed_max_users=0).collect()))
    assert d == c


def _py_bpe_tokens(s):
    return [t for t in s.split() if t]


def _py_bpe_merge(toks, left, right, joiner="▁"):
    out, i = [], 0
    while i < len(toks):
        if i + 1 < len(toks) and toks[i] == left and toks[i + 1] == right:
            out.append(left + joiner + right)
            i += 2
        else:
            out.append(toks[i])
            i += 1
    return out


def test_bpe_learn_apply_matches_python_model(spark):
    """bpe_learn reproduces a reference Python BPE loop (max pair by
    (cnt desc, left, right), min count 2, merged tokens feed later
    rounds) and bpe_apply replays the merge list identically."""
    corpus = ["the cat sat on the mat", "the cat ate the rat",
              "a cat the cat", "the the the", "x y z"] * 3
    df = spark.createDataFrame([(s,) for s in corpus], "text: string")

    def py_learn(corpus, n):
        from collections import Counter
        cur = [_py_bpe_tokens(s) for s in corpus]
        merges = []
        for _ in range(n):
            c = Counter()
            for t in cur:
                for a, b in zip(t, t[1:]):
                    if a and b:
                        c[(a, b)] += 1
            if not c:
                break
            (l, r), cnt = sorted(c.items(),
                                 key=lambda kv: (-kv[1], kv[0]))[0]
            if cnt < 2:
                break
            merges.append((l, r))
            cur = [_py_bpe_merge(t, l, r) for t in cur]
        return merges

    got = text.bpe_learn(df, 5)
    want = py_learn(corpus, 5)
    assert got == want and len(got) == 5
    applied = [list(r.a) for r in
               df.select(text.bpe_apply(F.col("text"), got)
                         .alias("a")).collect()]
    want_a = []
    for s in corpus:
        t = _py_bpe_tokens(s)
        for l, r in want:
            t = _py_bpe_merge(t, l, r)
        want_a.append(t)
    assert applied == want_a
    import pytest as _pt
    with _pt.raises(ValueError, match="n_merges"):
        text.bpe_learn(df, 0)


def test_pagerank_matches_integer_model(spark):
    """pagerank reproduces a Python int64 PageRank loop exactly
    (contrib = rank // outdeg, rank' = base + inflow * 17 // 20),
    including a dangling node that keeps only the base mass."""
    from collections import Counter, defaultdict
    from preql_spark.operators.graph import pagerank
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
             ("d", "a")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {r.node: (r.rank_units, r.rank)
           for r in pagerank(df, iters=4).collect()}

    def model(edges, iters, units=1_000_000, num=17, den=20):
        nodes = sorted({x for e in edges for x in e})
        deg = Counter(s for s, _ in edges)
        base = (units * (den - num)) // den
        r = {n: units for n in nodes}
        for _ in range(iters):
            inflow = defaultdict(int)
            for s, d in edges:
                inflow[d] += r[s] // deg[s]
            r = {n: base + (inflow[n] * num) // den for n in nodes}
        return r

    want = model(edges, 4)
    assert {k: v[0] for k, v in got.items()} == want
    assert got["d"][0] == 150_000          # dangling: base only
    assert all(abs(v[1] - v[0] / 1e6) < 1e-15 for v in got.values())
    import pytest as _pt
    with _pt.raises(ValueError, match="iters"):
        pagerank(df, iters=0)
    with _pt.raises(ValueError, match="damping"):
        pagerank(df, damping_num=20, damping_den=20)


def test_pagerank_dangling_redistribute_matches_model(spark):
    """dangling='redistribute' adds the classic uniform share
    D DIV |nodes| to every node's inflow before damping — pinned
    against a Python int64 model on a graph with a real sink (node
    'z' has no out-edges, so its whole rank is dangling mass each
    round); total mass strictly exceeds the drop variant's."""
    from collections import Counter, defaultdict
    from preql_spark.operators.graph import pagerank
    edges = [("a", "b"), ("b", "z"), ("a", "z"), ("c", "a"),
             ("z2", "a")]   # z and nothing-from-z2's targets dangle
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {r.node: r.rank_units
           for r in pagerank(df, iters=4,
                             dangling="redistribute").collect()}

    def model(edges, iters, units=1_000_000, num=17, den=20):
        nodes = sorted({x for e in edges for x in e})
        deg = Counter(s for s, _ in edges)
        base = (units * (den - num)) // den
        r = {n: units for n in nodes}
        for _ in range(iters):
            dang = sum(r[n] for n in nodes if deg[n] == 0)
            share = dang // len(nodes)
            inflow = defaultdict(int)
            for s, d in edges:
                inflow[d] += r[s] // deg[s]
            r = {n: base + ((inflow[n] + share) * num) // den
                 for n in nodes}
        return r

    assert got == model(edges, 4)
    dropped = {r.node: r.rank_units
               for r in pagerank(df, iters=4).collect()}
    assert sum(got.values()) > sum(dropped.values())
    import pytest as _pt
    with _pt.raises(ValueError, match="dangling"):
        pagerank(df, dangling="nope")


def test_trend_exact_line_and_degenerate(spark):
    """trend recovers an exact line (slope in cents/day, intercept in
    cents), NULLs a single-x group, and matches the closed-form
    integer OLS on a noisy group."""
    from preql_spark.operators.events import trend
    rows = []
    # group 'lin': y = 2x + 5 dollars on days 0..4 -> 200 c/day, 500 c
    for x in range(5):
        rows.append(("lin", f"2024-01-{x + 1:02d} 12:00:00",
                     2.0 * x + 5.0))
    # group 'one': a single day (vertical) -> NULL slope/intercept
    rows += [("one", "2024-01-03 00:00:00", 7.0),
             ("one", "2024-01-03 09:00:00", 9.0)]
    # group 'noisy': irregular values
    noisy = [(0, 1.23), (1, 4.56), (1, 2.22), (3, 9.87), (6, 0.05)]
    for x, v in noisy:
        rows.append(("noisy", f"2024-01-{x + 1:02d} 01:00:00", v))
    df = spark.createDataFrame(
        rows, "g: string, ts: string, value: double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {r.g: r for r in
           trend(df, "g", origin="2024-01-01").collect()}
    assert out["lin"].slope_cents_per_day == 200.0
    assert out["lin"].intercept_cents == 500.0
    assert out["one"].slope_cents_per_day is None
    assert out["one"].intercept_cents is None
    # closed-form integer OLS for the noisy group
    import math
    xy = [(x, math.floor(v * 100 + 0.5)) for x, v in noisy]
    n = len(xy)
    sx = sum(x for x, _ in xy); sy = sum(y for _, y in xy)
    sxx = sum(x * x for x, _ in xy); sxy = sum(x * y for x, y in xy)
    slope = float(n * sxy - sx * sy) / float(n * sxx - sx * sx)
    intercept = (float(sy) - slope * float(sx)) / n
    assert out["noisy"].slope_cents_per_day == slope
    assert out["noisy"].intercept_cents == intercept


def test_mad_outliers_semantics(spark):
    """Crafted group: med/MAD on exact cents, the wild row flagged,
    MAD robust to it; k=0 flags everything off the median."""
    from preql_spark.operators.events import mad_outliers
    vals = [1.0, 2.0, 3.0, 100.0]
    df = spark.createDataFrame(
        [("g", v) for v in vals], "g: string, value: double")
    out = mad_outliers(df, "g", k=3.0).collect()
    # cents 100,200,300,10000 -> med 250.0; devs 150,50,50,9750
    # -> MAD = (50+150)/2 = 100.0; outlier iff dev > 300
    assert all(r.med_cents == 250.0 and r.mad_cents == 100.0
               for r in out)
    flagged = sorted(r.value for r in out if r.is_outlier)
    assert flagged == [100.0]
    z = mad_outliers(df, "g", k=0.0).collect()
    assert sorted(r.value for r in z if r.is_outlier) == vals
    import pytest as _pt
    with _pt.raises(ValueError, match="k must"):
        mad_outliers(df, "g", k=-1.0)


def test_token_entropy_matches_python_model(spark):
    """token_entropy equals the direct -sum(p ln p) computation and
    handles the single-token-vocabulary NULL."""
    import math
    from collections import Counter
    docs = [("a", "x x y z z z"), ("a", "y y w"),
            ("b", "only only only")]
    df = spark.createDataFrame(docs, "source: string, text: string")
    out = {r.source: r for r in
           text.token_entropy(df, "source").collect()}
    for g in ("a", "b"):
        c = Counter(t for s, tx in docs if s == g for t in tx.split())
        n = sum(c.values())
        h = math.log(n) - sum(v * math.log(v) for v in
                              sorted(c.values())) / n
        want = -sum((v / n) * math.log(v / n) for v in c.values())
        assert abs(out[g].entropy_nats - want) < 1e-12
        assert out[g].n_tokens == n and out[g].n_distinct == len(c)
    assert out["b"].entropy_norm is None          # 1-token vocab
    assert abs(out["a"].entropy_norm
               - out["a"].entropy_nats / math.log(4)) < 1e-12


def test_session_paths_semantics(spark):
    """Known sessions: gap splits, order inside a session by
    (ts, tie), frequency ranking with path tie-break, k=None."""
    from preql_spark.operators.events import session_paths
    rows = [
        (1, "2024-01-01 00:00:00", 1, "a"),
        (1, "2024-01-01 00:10:00", 2, "b"),     # same session
        (1, "2024-01-01 01:10:00", 3, "a"),     # > 30 min -> new
        (2, "2024-01-01 00:00:00", 4, "a"),
        (2, "2024-01-01 00:05:00", 5, "b"),
        (3, "2024-01-01 00:00:00", 6, "c"),
    ]
    df = spark.createDataFrame(
        rows, "user_id: long, ts: string, event_id: long,"
              " event_type: string") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = {(r.path, r.n_sessions)
           for r in session_paths(df, k=None).collect()}
    assert out == {("a>b", 2), ("a", 1), ("c", 1)}
    top = session_paths(df, k=2).collect()
    assert [(r.path, r.n_sessions) for r in top] == \
        [("a>b", 2), ("a", 1)]                 # path tie-break a < c
    import pytest as _pt
    with _pt.raises(ValueError, match="gap_seconds"):
        session_paths(df, gap_seconds=0)


def test_tdigest_accuracy_determinism_rollup(spark):
    """t-digest: sub-percent rank error on lognormal data at
    p50/p90/p99, deterministic digests, and fine->coarse merge
    rollup staying accurate; delta guard raises."""
    import numpy as np
    from preql_spark.operators.sketch import (tdigest, tdigest_merge,
                                              tdigest_quantiles)
    rng = np.random.default_rng(7)
    rows, data = [], {}
    for g, sig in (("a", 1.0), ("b", 2.0)):
        vals = rng.lognormal(0.0, sig, 20000)
        data[g] = np.sort(vals)
        rows += [(g, float(v)) for v in vals]
    df = spark.createDataFrame(rows, "g: string, v: double") \
        .repartition(8)
    dig = tdigest(df, "g", "v")
    qs = (0.5, 0.9, 0.99)
    est = {r.g: (r.p50, r.p90, r.p99) for r in
           tdigest_quantiles(dig, "g", qs).collect()}
    for g in ("a", "b"):
        for q, e in zip(qs, est[g]):
            rank = np.searchsorted(data[g], e) / len(data[g])
            assert abs(rank - q) < 0.01, (g, q, rank)
    assert sorted(map(tuple, dig.collect())) == \
        sorted(map(tuple, tdigest(df, "g", "v").collect()))
    fine = tdigest(df.withColumn("h", (F.col("v") > 1.0).cast("int")),
                   ["g", "h"], "v")
    assert all(len(r.means) <= 200 for r in fine.collect())
    up = {r.g: (r.p50, r.p90, r.p99) for r in
          tdigest_quantiles(tdigest_merge(fine, "g"), "g", qs)
          .collect()}
    for g in ("a", "b"):
        for q, e in zip(qs, up[g]):
            rank = np.searchsorted(data[g], e) / len(data[g])
            assert abs(rank - q) < 0.015, (g, q, rank)
    import pytest as _pt
    with _pt.raises(ValueError, match="delta"):
        tdigest(df, "g", "v", delta=1)


def test_ks_statistic_matches_python_model(spark):
    """ks_statistic equals the direct two-sample KS computation,
    including the smallest-value argmax tie-break and identical
    distributions giving D = 0."""
    from preql_spark.operators.events import ks_statistic
    a = [1, 2, 2, 3, 9, 9, 12]
    b = [1, 2, 5, 9, 9, 9, 9, 14]
    rows = [("a", v) for v in a] + [("b", v) for v in b]
    df = spark.createDataFrame(rows, "side: string, v: long")
    r = ks_statistic(df, "v", "side", "a", "b").collect()[0]

    def py_ks(a, b):
        vals = sorted(set(a) | set(b))
        best, at = -1.0, None
        for v in vals:
            d = abs(sum(x <= v for x in a) / len(a)
                    - sum(x <= v for x in b) / len(b))
            if d > best:
                best, at = d, v
        return len(a), len(b), best, at

    assert tuple(r) == py_ks(a, b)
    same = spark.createDataFrame(
        [("a", v) for v in a] + [("b", v) for v in a],
        "side: string, v: long")
    r2 = ks_statistic(same, "v", "side", "a", "b").collect()[0]
    assert r2.d_stat == 0.0 and r2.at_value == min(a)


def test_ab_test_matches_formula(spark):
    """ab_test equals the pooled-SE z formula; zero-variance pooled
    rates give NULL z."""
    import math
    rows = ([("a", 1.0)] * 30 + [("a", 0.0)] * 70
            + [("b", 1.0)] * 45 + [("b", 0.0)] * 55)
    df = spark.createDataFrame(rows, "side: string, v: double")
    from preql_spark.operators.events import ab_test
    r = ab_test(df, "side", "a", "b", "v > 0.5").collect()[0]
    assert (r.n_a, r.s_a, r.n_b, r.s_b) == (100, 30, 100, 45)
    p = (30 + 45) / 200
    se = math.sqrt(p * (1.0 - p) * (1.0 / 100 + 1.0 / 100))
    assert r.z == (30 / 100 - 45 / 100) / se
    z0 = ab_test(df, "side", "a", "b", "v > 99").collect()[0]
    assert z0.z is None                      # pooled rate 0
    z1 = ab_test(df, "side", "a", "b", "v >= 0").collect()[0]
    assert z1.z is None                      # pooled rate 1


def test_triangle_count_known_graphs(spark):
    """K4 has 4 triangles; duplicates, reversed edges, and
    self-loops canonicalize away; a triangle-free path has 0."""
    from preql_spark.operators.graph import triangle_count
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + [(2, 2), (0, 1), (3, 1)]
    df = spark.createDataFrame(noisy, "src: long, dst: long")
    assert triangle_count(df).collect()[0].n_triangles == 4
    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                                 "src: long, dst: long")
    assert triangle_count(path).collect()[0].n_triangles == 0


def test_psi_matches_python_model(spark):
    """psi equals the add-one-smoothed Python PSI; identical sides
    give exactly 0.0; bucket guard raises."""
    import math
    rows = ([("a", v) for v in (1, 1, 2, 5, 9, 9, 9, 20)]
            + [("b", v) for v in (1, 2, 2, 2, 18, 19, 20, 20, 20)])
    df = spark.createDataFrame(rows, "s: string, v: long")
    from preql_spark.operators.events import psi
    r = psi(df, "v", "s", "a", "b", n_buckets=4).collect()[0]

    lo, hi = 1, 20
    ca = [0] * 4
    cb = [0] * 4
    for s, v in rows:
        (ca if s == "a" else cb)[(v - lo) * 4 // (hi - lo + 1)] += 1
    na, nb = sum(ca), sum(cb)
    want = 0.0
    for i in range(4):
        p = (ca[i] + 1.0) / (na + 4)
        q = (cb[i] + 1.0) / (nb + 4)
        want += (p - q) * math.log(p / q)
    assert (r.n_a, r.n_b) == (na, nb) and r.psi == want
    same = spark.createDataFrame(
        [("a", v) for v in (1, 5, 9)] + [("b", v) for v in (1, 5, 9)],
        "s: string, v: long")
    assert psi(same, "v", "s", "a", "b").collect()[0].psi == 0.0
    import pytest as _pt
    with _pt.raises(ValueError, match="n_buckets"):
        psi(df, "v", "s", "a", "b", n_buckets=1)


def test_containment_pairs_asymmetric(spark):
    """A short doc quoted inside a long one: containment
    short->long = 1.0 while long->short stays below threshold."""
    from preql_spark.operators.dedup import ngram_containment_pairs
    short = "alpha beta gamma delta"
    long_ = short + " epsilon zeta eta theta iota kappa"
    other = "one two three four five six"
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)],
        "doc_id: long, text: string")
    out = {(r.id_a, r.id_b): r.containment for r in
           ngram_containment_pairs(df, "doc_id",
                                   threshold=0.9).collect()}
    assert out == {(1, 2): 1.0}
    low = {(r.id_a, r.id_b) for r in
           ngram_containment_pairs(df, "doc_id",
                                   threshold=0.2).collect()}
    assert (2, 1) in low                       # asymmetric direction


def test_psi_rejects_non_integral_values(spark):
    """psi raises a clear TypeError for double value columns
    instead of a Catalyst DIV analysis error."""
    import pytest as _pt
    from preql_spark.operators.events import psi
    df = spark.createDataFrame([("a", 1.5)], "s: string, v: double")
    with _pt.raises(TypeError, match="integral value column"):
        psi(df, "v", "s", "a", "a")


def test_review_fixes_null_handling(spark):
    """Round-7 review fixes: KS ignores NULL values; trend's n stays
    consistent with its moment sums under NULL rows; mad_outliers
    gates the NULL group against its own median; tdigest_quantiles
    suffixes colliding p-labels; pagerank validates
    checkpoint_every."""
    import pytest as _pt
    from preql_spark.operators.events import (ks_statistic,
                                              mad_outliers, trend)
    from preql_spark.operators.graph import pagerank
    from preql_spark.operators.sketch import (tdigest,
                                              tdigest_quantiles)

    a = [1, 2, 3]
    rows = ([("a", v) for v in a] + [("a", None)] * 2
            + [("b", v) for v in a])
    df = spark.createDataFrame(rows, "side: string, v: long")
    r = ks_statistic(df, "v", "side", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.d_stat) == (3, 3, 0.0)

    t = spark.createDataFrame(
        [("g", "2024-01-01", 1.0), ("g", "2024-01-02", 2.0),
         ("g", "2024-01-03", None)],
        "g: string, ts: string, value: double") \
        .withColumn("ts", F.to_timestamp("ts"))
    rt = trend(t, "g", origin="2024-01-01").collect()[0]
    assert rt.n == 2 and rt.slope_cents_per_day == 100.0

    m = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), (None, 100.0), ("g", 5.0)],
        "g: string, value: double")
    out = {(r.g, r.value): r for r in
           mad_outliers(m, "g", k=0.5).collect()}
    assert out[(None, 100.0)].med_cents == 200.0
    assert out[(None, 100.0)].is_outlier is True
    assert out[("g", 5.0)].mad_cents == 0.0

    dig = tdigest(spark.createDataFrame(
        [("g", float(i)) for i in range(100)],
        "g: string, v: double"), "g", "v")
    q = tdigest_quantiles(dig, "g", (0.995, 0.999, 0.5))
    assert q.columns == ["g", "p100", "p100_2", "p50"]

    e = spark.createDataFrame([("a", "b")], "src: string, dst: string")
    with _pt.raises(ValueError, match="checkpoint_every"):
        pagerank(e, checkpoint_every=0)


def test_weighted_pagerank_matches_model(spark):
    """pagerank(weight_col=...) reproduces the int64 weighted model
    (contrib = rank * w // wsum)."""
    from collections import defaultdict
    from preql_spark.operators.graph import pagerank
    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2),
             ("c", "a", 5)]
    df = spark.createDataFrame(edges,
                               "src: string, dst: string, w: long")
    got = {r.node: r.rank_units
           for r in pagerank(df, iters=4, weight_col="w").collect()}

    def model(edges, iters, units=1_000_000, num=17, den=20):
        nodes = sorted({x for s, d, _ in edges for x in (s, d)})
        wsum = defaultdict(int)
        for s, _, w in edges:
            wsum[s] += w
        base = (units * (den - num)) // den
        r = {n: units for n in nodes}
        for _ in range(iters):
            inflow = defaultdict(int)
            for s, d, w in edges:
                inflow[d] += (r[s] * w) // wsum[s]
            r = {n: base + (inflow[n] * num) // den for n in nodes}
        return r

    assert got == model(edges, 4)


def test_degree_assortativity_known_graphs(spark):
    """Star graph: perfect disassortativity (-1.0 exactly on the
    2-point degree distribution); regular ring: NULL (zero
    variance)."""
    from preql_spark.operators.graph import degree_assortativity
    star = spark.createDataFrame([(0, i) for i in range(1, 6)],
                                 "src: long, dst: long")
    r = degree_assortativity(star).collect()[0]
    assert r.n_edge_ends == 10 and r.assortativity == -1.0
    ring = spark.createDataFrame([(i, (i + 1) % 6) for i in range(6)],
                                 "src: long, dst: long")
    r2 = degree_assortativity(ring).collect()[0]
    assert r2.n_edge_ends == 12 and r2.assortativity is None


def test_bpe_apply_arrow_equals_hof(spark):
    """The Arrow merge-application path is token-identical to the
    chained-HOF bpe_apply on a learned merge list, including NULL
    text and the overlapping-run rule."""
    corpus = ["the cat sat on the mat", "the cat ate the rat",
              "a cat the cat", "the the the", None, "a a a",
              "", "  the   cat  ",
              "\tthe cat", "a b", "the\ncat\tsat"]
    df = spark.createDataFrame([(s,) for s in corpus],
                               "text: string")
    merges = text.bpe_learn(df.filter("text is not null"), 4)
    assert len(merges) >= 3
    hof = [r.a and list(r.a) for r in
           df.select(text.bpe_apply(F.col("text"), merges)
                     .alias("a")).collect()]
    arrow = [r.bpe_tokens and list(r.bpe_tokens) for r in
             text.bpe_apply_arrow(df, merges).select("bpe_tokens")
             .collect()]
    assert arrow == hof


def test_mann_whitney_matches_python_model(spark):
    """mann_whitney equals the textbook tie-corrected computation
    (doubled-rank integer arithmetic), and all-tied data gives NULL
    z; NULL values are ignored."""
    import math
    a = [1, 2, 2, 5, 9]
    b = [2, 3, 3, 9, 9, 12]
    rows = ([("a", v) for v in a] + [("b", v) for v in b]
            + [("a", None)])
    df = spark.createDataFrame(rows, "s: string, v: long")
    from preql_spark.operators.events import mann_whitney
    r = mann_whitney(df, "v", "s", "a", "b").collect()[0]

    allv = sorted(a + b)
    n1, n2 = len(a), len(b)
    n = n1 + n2
    ranks = {}
    i = 0
    while i < len(allv):
        j = i
        while j < len(allv) and allv[j] == allv[i]:
            j += 1
        ranks[allv[i]] = (i + 1 + j) / 2.0
        i = j
    r1 = sum(ranks[v] for v in a)
    u = r1 - n1 * (n1 + 1) / 2.0          # U1, the scipy convention
    ties = {}
    for v in allv:
        ties[v] = ties.get(v, 0) + 1
    tsum = sum(t ** 3 - t for t in ties.values())
    sigma = math.sqrt(n1 * n2 / 12.0
                      * ((n + 1) - tsum / (n * (n - 1))))
    z = (u - n1 * n2 / 2.0) / sigma
    assert (r.n_a, r.n_b) == (n1, n2)
    assert r.u == u and abs(r.z - z) < 1e-12
    tied = spark.createDataFrame(
        [("a", 7), ("a", 7), ("b", 7)], "s: string, v: long")
    assert mann_whitney(tied, "v", "s", "a", "b").collect()[0].z \
        is None


def test_chi_square_matches_python_model(spark):
    """chi_square equals the direct (o-e)^2/e computation, counts a
    NULL category as its own level, and NULLs cramers_v for a
    single-level column."""
    rows = [("x", "p"), ("x", "p"), ("x", "q"), ("y", "p"),
            ("y", "q"), ("y", "q"), ("y", "q"), (None, "p")]
    df = spark.createDataFrame(rows, "a: string, b: string")
    from preql_spark.operators.events import chi_square
    r = chi_square(df, "a", "b").collect()[0]
    from collections import Counter
    o = Counter(rows)
    ra = Counter(x for x, _ in rows)
    cb = Counter(y for _, y in rows)
    n = len(rows)
    chi2 = 0.0
    for (x, y), cnt in sorted(
            o.items(), key=lambda kv: (str(kv[0][0]), kv[0][1])):
        e = ra[x] * cb[y] / n
        chi2 += (cnt - e) ** 2 / e
    import math
    levels_a = len(ra)        # includes the None level
    v = math.sqrt(chi2 / (n * min(levels_a - 1, len(cb) - 1)))
    assert r.n == n and r.dof == (levels_a - 1) * (len(cb) - 1)
    assert abs(r.chi2 - chi2) < 1e-12 and abs(r.cramers_v - v) < 1e-12
    one = spark.createDataFrame([("x", "p"), ("x", "q")],
                                "a: string, b: string")
    assert chi_square(one, "a", "b").collect()[0].cramers_v is None


def test_chi_square_from_value_counts_matches_batch(spark):
    """chi_square_from_value_counts over the exact per-(side, value)
    histogram is bit-identical to batch chi_square over the raw rows
    — including a NULL value level (its own category, the state
    stores null-v rows) and a value observed on only one side (the
    other side's zero cell must NOT materialize, exactly like a
    raw-row groupBy)."""
    from preql_spark.operators.events import (
        chi_square, chi_square_from_value_counts)
    rows = [("a", 1), ("a", 1), ("a", None), ("a", 2),
            ("b", 1), ("b", 2), ("b", 2), ("b", None), ("b", 3)]
    df = spark.createDataFrame(rows, "s: string, v: long")
    vc = (df.groupBy("v")
          .agg(F.sum(F.when(F.col("s") == "a", 1).otherwise(0))
               .cast("long").alias("ca"),
               F.sum(F.when(F.col("s") == "b", 1).otherwise(0))
               .cast("long").alias("cb")))
    got = chi_square_from_value_counts(vc, "a", "b").collect()
    want = chi_square(df, "s", "v").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # v=3 exists only on side b: 4 v-levels x 2 sides minus the one
    # unobserved (a, 3) cell — dof still (2-1)*(4-1)
    assert got[0]["dof"] == 3


def test_pagerank_rejects_bad_weights(spark):
    """NULL/zero/negative weights raise in-plan instead of silently
    corrupting ranks."""
    import pytest as _pt
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException
    from preql_spark.operators.graph import pagerank
    for wval in (None, 0, -3):
        df = spark.createDataFrame([("a", "b", wval)],
                                   "src: string, dst: string, w: long")
        with _pt.raises((PySparkRuntimeError, SparkRuntimeException,
                         Exception), match="positive int64"):
            pagerank(df, iters=1, weight_col="w").collect()


def test_hits_matches_integer_model(spark):
    """hits reproduces the int64 max-rescaled model on a small
    digraph, including a pure-hub (auth 0) and pure-authority
    (hub 0) node."""
    from collections import defaultdict
    from preql_spark.operators.graph import hits
    edges = [("h", "m1"), ("h", "m2"), ("m1", "t"), ("m2", "t"),
             ("m1", "m2")]
    df = spark.createDataFrame(edges, "src: string, dst: string")
    got = {r.node: (r.hub_units, r.auth_units)
           for r in hits(df, iters=3).collect()}

    U = 1_000_000
    es = sorted(set(edges))
    nodes = sorted({x for e in es for x in e})
    h = {n: U for n in nodes}

    def rescale(d):
        mx = max(d.values())
        if mx <= 0:
            return {k: 0 for k in d}
        return {k: (v * U) // mx for k, v in d.items()}

    for _ in range(3):
        a = defaultdict(int)
        for s, d in es:
            a[d] += h[s]
        a = rescale({n: a.get(n, 0) for n in nodes})
        h = defaultdict(int)
        for s, d in es:
            h[s] += a[d]
        h = rescale({n: h.get(n, 0) for n in nodes})
    assert got == {n: (h[n], a[n]) for n in nodes}
    assert got["h"][1] == 0 and got["t"][0] == 0   # pure hub/auth
    import pytest as _pt
    with _pt.raises(ValueError, match="iters"):
        hits(df, iters=0)


def test_ks_mw_bounded_domain_guard(spark):
    """ks_statistic / mann_whitney sort the DISTINCT value domain in
    one window task — that contract is now ENFORCED in-plan: a
    domain above max_domain fails with an explicit quantize-first
    message (raw continuous metrics can't silently single-task a
    billion rows), the default bound leaves results bit-identical,
    and max_domain=None opts out."""
    from preql_spark.operators.events import ks_statistic, mann_whitney
    rows = [(float(i) + 0.123456, "a" if i % 2 else "b")
            for i in range(100)]
    df = spark.createDataFrame(rows, "v: double, side: string")
    base_ks = ks_statistic(df, "v", "side", "a", "b").collect()
    base_mw = mann_whitney(df, "v", "side", "a", "b").collect()
    import pytest as _pt
    for fn in (ks_statistic, mann_whitney):
        with _pt.raises(Exception, match="max_domain"):
            fn(df, "v", "side", "a", "b", max_domain=10).collect()
    # opt-out and a generous bound both reproduce the default exactly
    assert ks_statistic(df, "v", "side", "a", "b",
                        max_domain=None).collect() == base_ks
    assert mann_whitney(df, "v", "side", "a", "b",
                        max_domain=100).collect() == base_mw


def test_ks_mw_quantize_to_degrades_instead_of_failing(spark):
    """quantize_to=<tick> is the opt-in degradation alternative to
    the max_domain failure: raw continuous doubles tick-round via
    floor(v/tick)*tick BEFORE the domain collapse, so (1) a domain
    that would fail the guard now fits, and (2) the result is
    bit-identical to pre-quantizing the column yourself and running
    the plain operator — for both KS and Mann-Whitney."""
    from preql_spark.operators.events import ks_statistic, mann_whitney
    import pytest as _pt
    rows = [(float(i) * 0.37 + 0.123456, "a" if i % 2 else "b")
            for i in range(100)]
    df = spark.createDataFrame(rows, "v: double, side: string")
    tick = 5.0
    pre = df.withColumn(
        "q", F.floor(F.col("v") / F.lit(tick)) * F.lit(tick))
    for fn in (ks_statistic, mann_whitney):
        # 100 distinct raw values > max_domain=10 -> guard fires...
        with _pt.raises(Exception, match="max_domain"):
            fn(df, "v", "side", "a", "b", max_domain=10).collect()
        # ...but 8 ticks fit, and match the pre-quantized batch run
        got = fn(df, "v", "side", "a", "b", max_domain=10,
                 quantize_to=tick).collect()
        want = fn(pre, "q", "side", "a", "b", max_domain=10).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want]
        with _pt.raises(ValueError, match="quantize_to"):
            fn(df, "v", "side", "a", "b", quantize_to=0)


def test_hits_rescale_is_in_plan_not_collected(spark):
    """The per-round max-rescale folds its L-inf max back in AS A
    PLAN COLUMN (single-row broadcast crossJoin + integer DIV) — the
    old shape collect()ed the max twice per iteration, a full
    |nodes| driver action each, recomputing the non-eager checkpoint
    lineage for the following action.  The final plan must show the
    broadcast fold and a DIV by the __mx COLUMN (a collected max
    would appear as a literal divisor)."""
    from preql_spark.operators.graph import hits
    df = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c")], "src: string, dst: string")
    out = hits(df, iters=4)   # 4th round is past the checkpoint cut
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted")
    import re
    assert re.search(r"(?i)div __mx#\d+", plan), plan
    assert "BroadcastNestedLoopJoin" in plan \
        or "BroadcastExchange" in plan
    assert out.count() == 3


def test_shortest_paths_matches_model(spark):
    """shortest_paths equals Bellman-Ford on a weighted digraph
    (multi-source, unreachable nodes absent, hop-count default),
    and rejects bad weights."""
    import pytest as _pt
    from preql_spark.operators.graph import shortest_paths
    edges = [("a", "b", 4), ("a", "c", 1), ("c", "b", 1),
             ("b", "d", 1), ("x", "y", 7)]
    df = spark.createDataFrame(edges,
                               "src: string, dst: string, w: long")
    srcs = spark.createDataFrame([("a",)], "n: string")
    got = {r.node: r.dist for r in
           shortest_paths(df, srcs, weight_col="w").collect()}
    assert got == {"a": 0, "c": 1, "b": 2, "d": 3}   # not 4 via a->b
    hop = {r.node: r.dist for r in
           shortest_paths(df, srcs).collect()}
    assert hop == {"a": 0, "b": 1, "c": 1, "d": 2}
    multi = {r.node: r.dist for r in
             shortest_paths(df, spark.createDataFrame(
                 [("a",), ("x",)], "n: string"),
                 weight_col="w").collect()}
    assert multi["y"] == 7 and multi["b"] == 2
    bad = spark.createDataFrame([("a", "b", 0)],
                                "src: string, dst: string, w: long")
    with _pt.raises(Exception, match="positive int64"):
        shortest_paths(bad, srcs, weight_col="w").collect()
    with _pt.raises(ValueError, match="max_rounds"):
        shortest_paths(df, srcs, max_rounds=0)


def test_shortest_paths_scalar_convergence_edges(spark):
    """The r14 (count, dist-sum) convergence scalar handles the two
    boundary states the old join+isEmpty test got for free: an empty
    sources frame (sum aggregate is NULL — must converge, not loop
    max_rounds) and a source with no outgoing edges (state is
    unchanged after round 1 — must early-exit with just the source).
    Values must match the pre-r14 join-test semantics exactly."""
    from preql_spark.operators.graph import shortest_paths
    edges = spark.createDataFrame([("a", "b", 2)],
                                  "src: string, dst: string, w: long")
    empty = spark.createDataFrame([], "n: string")
    assert shortest_paths(edges, empty, weight_col="w").count() == 0
    lone = spark.createDataFrame([("z",)], "n: string")
    got = {r.node: r.dist for r in
           shortest_paths(edges, lone, weight_col="w",
                          max_rounds=80).collect()}
    assert got == {"z": 0}


def test_connected_components_decimal_sum_overflow(spark):
    """r15 (ADVICE r14): with DecimalType(38,0) node ids near 10^38
    the convergence label-sum overflows to NULL (non-ANSI sum), and
    two consecutive overflow-NULLs must NOT read as converged — the
    guarded loop keeps iterating and still lands on the exact
    min-label clusters."""
    from decimal import Decimal

    from preql_spark.operators.dedup import connected_components
    big = int(Decimal(10) ** 37) * 9  # 9e37: two of these overflow 38,0
    pairs = spark.createDataFrame(
        [(Decimal(big), Decimal(big + 1)),
         (Decimal(big + 1), Decimal(big + 2)),
         (Decimal(big + 5), Decimal(big + 6))],
        "id_a: decimal(38,0), id_b: decimal(38,0)")
    got = {int(r.node): int(r.component)
           for r in connected_components(pairs).collect()}
    assert got == {big: big, big + 1: big, big + 2: big,
                   big + 5: big + 5, big + 6: big + 5}


def test_ks_statistic_empty_side_null(spark):
    """An empty side makes D undefined: NULL d_stat instead of an
    ANSI divide-by-zero (review-found via the q192 capstone)."""
    from preql_spark.operators.events import ks_statistic
    df = spark.createDataFrame([("a", 1), ("a", 2)],
                               "s: string, v: long")
    r = ks_statistic(df, "v", "s", "a", "b").collect()[0]
    assert (r.n_a, r.n_b, r.d_stat) == (2, 0, None)
