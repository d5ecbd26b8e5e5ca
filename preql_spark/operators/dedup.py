"""Deduplication operators — exact and near-duplicate, designed for
100 TB document corpora.

Scale architecture:
- exact: one hash-partitioned shuffle on the fingerprint; keep-min-id
  via partial aggregation (no window over the full table).
- MinHash+LSH: shingle → N minhashes → B bands; candidate pairs come
  from an equi-join on (band, band-hash) buckets, i.e. O(candidates)
  not O(n²); exact Jaccard verifies candidates. Banding bounds bucket
  width, and a frequency cap drops degenerate buckets (boilerplate
  shingles) the way production pipelines do.
- SimHash: 60-bit signature via higher-order array functions (all
  JVM-side); hamming-ball candidate search by signature band keys.
- n-gram Jaccard: shingle-explode + equi-join on shingle with a
  document-frequency cap on join fan-out.

All hashes use the md5-based :func:`portable_hash` so results are
engine-portable (same values on DuckDB for differential testing).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from preql_spark.operators.text import (
    _SER_LEVEL, ensure_parallelism, fingerprint, fingerprint64,
    portable_hash, tokens)


# ---- exact -----------------------------------------------------------------

def dedup_exact(df: DataFrame, id_col: str, text_col: str = "text",
                normalize: bool = True) -> DataFrame:
    """Keep the min-id row per distinct (normalized) text.
    One shuffle on the fingerprint; survivors joined back by id so the
    full row survives without shipping text through the aggregate."""
    key = fingerprint(text_col) if normalize else F.md5(F.col(text_col))
    winners = (df.select(F.col(id_col), key.alias("__fp"))
               .groupBy("__fp").agg(F.min(id_col).alias(id_col))
               .select(id_col))
    return df.join(winners, id_col, "left_semi")


# ---- shingling -------------------------------------------------------------

def shingles_from_tokens(tok: Column, k: int = 3) -> Column:
    """Distinct k-token shingles from an already-materialized token
    array.  Call sites materialize the token array in a prior select —
    higher-order functions are CodegenFallback and re-evaluate their
    input expression per element, so an inline regex split inside the
    lambda would tokenize the document once per shingle (measured 2.2×
    slower at sf0.1)."""
    n = F.size(tok)
    return F.array_distinct(F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(tok, i + 1, k))))


def token_shingles(col, k: int = 3) -> Column:
    """Distinct k-token shingles (word n-grams) as strings."""
    return shingles_from_tokens(tokens(col), k)


# ---- MinHash + LSH ---------------------------------------------------------

_MERSENNE31 = 2147483647  # 2^31 - 1


def _universal_params(i: int) -> tuple[int, int]:
    """Deterministic (a, b) for the i-th universal hash
    h_i(x) = (a*x + b) mod (2^31-1). Knuth multiplicative constants;
    mirrored verbatim in the SQL oracles."""
    a = ((i + 1) * 2654435761) % _MERSENNE31
    b = (i * 40503 + 17) % _MERSENNE31
    return a, b


def minhash_signature(shingles: Column, n_hashes: int = 16) -> Column:
    """Array of ``n_hashes`` minima over the shingle set — standard
    MinHash with a universal-hash family: each shingle is md5-hashed
    ONCE (the expensive step), then the n_hashes variants are integer
    multiply-adds over that base hash.  At 16 hashes this is ~16×
    less md5 work than seeded re-hashing; entirely JVM-side."""
    base = F.transform(shingles, lambda s: portable_hash(s) % _MERSENNE31)

    def mixer(a: int, b: int):
        # factory: F.transform requires a 1-arg lambda (a 2-arg lambda
        # means (element, index) to pyspark)
        return lambda h: (h * a + b) % _MERSENNE31

    return F.array(*[
        F.array_min(F.transform(base, mixer(*_universal_params(i))))
        for i in range(n_hashes)])


def _signature_select(shingled: DataFrame, keep: list,
                      shingle_col: str, n_hashes: int,
                      portable: bool) -> DataFrame:
    """The signature projection behind :func:`minhash_signature_df`:
    ``keep`` columns plus ``__sig``, over every input row (no empty-set
    filter)."""
    def base_h(e: Column) -> Column:
        return (portable_hash(e) if portable
                else F.abs(F.xxhash64(e))) % _MERSENNE31

    hs = shingled.select(*keep, F.transform(F.col(shingle_col), base_h)
                         .alias("__hs"))

    def mixer(a: int, b: int):
        # factory: F.transform requires a 1-arg lambda (a 2-arg
        # lambda means (element, index) to pyspark)
        return lambda h: (h * a + b) % _MERSENNE31

    return hs.select(
        *keep,
        F.array(*[
            F.array_min(F.transform(F.col("__hs"),
                                    mixer(*_universal_params(i))))
            for i in range(n_hashes)]).alias("__sig"))


def minhash_signature_df(shingled: DataFrame, id_col: str = "__id",
                         shingle_col: str = "__sh",
                         n_hashes: int = 16,
                         portable: bool = True) -> DataFrame:
    """MinHash signature per document as a scan-local projection:
    hash each shingle ONCE into a staged array column, then take the
    n_hashes universal-hash minima with ``array_min`` folds over that
    column.  Returns (id, __sig array).

    ``portable=True`` uses the md5-based cross-engine hash (needed when
    signature *values* are compared against another engine);
    ``portable=False`` uses xxhash64 — ~3× cheaper, same statistical
    quality, right default when signatures are internal.

    r14 (guide §2.4): formerly an explode + ``groupBy(id)`` with
    n_hashes min-aggregates — whose corpus-cardinality exchange was
    the only shuffle of the signature pass.  The minimum of each
    universal-hash variant folds over the document's OWN shingle
    array, so it is now a scan-local two-step projection: the base
    hash materializes ONCE into an array column (each min below
    references the column, so CollapseProject keeps it
    single-evaluated — the ``__pqd`` staging idiom), then
    ``array_min`` per variant.  Zero shuffles, identical values.
    Docs with empty/NULL shingle arrays drop out exactly as the
    exploded grouping dropped them (no rows to aggregate)."""
    return _signature_select(
        shingled.filter(F.size(F.col(shingle_col)) > 0), [F.col(id_col)],
        shingle_col, n_hashes, portable)


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                      n_hashes: int = 16, bands: int = 8,
                      shingle_k: int = 3,
                      threshold: float = 0.7,
                      max_bucket: int = 200) -> DataFrame:
    """Near-duplicate pairs via MinHash banding + exact-Jaccard verify.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    ``max_bucket`` caps degenerate LSH buckets (at scale a hot bucket
    means boilerplate; production pipelines drop or re-band them).

    Hashing is xxhash64 (fast path): the hash only shapes the
    *candidate* set — output pairs are verified by exact Jaccard, so
    the result is hash-agnostic up to LSH recall (≥ 1 - 2e-6 at
    j≥0.9 with 16 hashes / 8 bands).
    """
    from pyspark.sql import Window

    if bands < 1 or n_hashes % bands:
        # leftover hashes would be silently ignored, quietly changing
        # the collision probability the caller computed
        raise ValueError(
            f"bands must divide n_hashes, got {n_hashes}/{bands}")
    rows_per_band = n_hashes // bands
    # shingle sets AND their signatures persisted once: both sides of
    # the band self-join and both exact-Jaccard verify joins read this
    # one cache.  Catalyst does not reuse an exchange across the two
    # join sides of a lambda-heavy signature plan, so an uncached
    # signature was recomputed on each side of the band self-join.
    # Tokenize in a separate projection (one regex split per doc, not
    # per shingle) and lift small scans to full parallelism before the
    # CPU-heavy shingling.  Docs with no shingles (NULL text) are
    # dropped ABOVE the cache: a filter inside it would be pushed
    # below the parallelism lift and shingle every doc twice.
    sh = _signature_select(
        ensure_parallelism(df)
        .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
        .select("__id", shingles_from_tokens(F.col("__t"), shingle_k)
                .alias("__sh")),
        ["__id", "__sh"], "__sh", n_hashes, portable=False
    ).persist(_SER_LEVEL)

    # banding frame is NARROW (id, band, bkey) — the shuffle moves a
    # few bytes per row, not the shingle arrays
    banded = sh.filter(F.size("__sh") > 0).select(
        "__id",
        F.posexplode(F.array(*[
            F.hash(F.slice("__sig", b * rows_per_band + 1, rows_per_band))
            for b in range(bands)])).alias("__band", "__bkey"))

    # drop degenerate buckets with a windowed count (single pass over
    # the narrow frame; hot buckets = boilerplate at scale)
    wb = Window.partitionBy("__band", "__bkey")
    banded = (banded.withColumn("__bn", F.count(F.lit(1)).over(wb))
              .filter(F.col("__bn") <= max_bucket).drop("__bn"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (a.join(b, (F.col("a.__band") == F.col("b.__band"))
                    & (F.col("a.__bkey") == F.col("b.__bkey"))
                    & (F.col("a.__id") < F.col("b.__id")))
             .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))

    # exact Jaccard verify: join the (few) candidates back to the
    # cached shingle sets
    shin = sh.select("__id", "__sh")
    cands = (cands
             .join(shin.select(F.col("__id").alias("id_a"),
                               F.col("__sh").alias("sh_a")), "id_a")
             .join(shin.select(F.col("__id").alias("id_b"),
                               F.col("__sh").alias("sh_b")), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (cands.select("id_a", "id_b",
                         (inter / union).cast("double").alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---- SimHash ---------------------------------------------------------------

def simhash_from_hashes(hashes: Column, bits: int = 60) -> Column:
    """SimHash signature from an array of per-token hashes: ±1 vote
    per bit, sign of the vote sum becomes the bit.  Pure higher-order
    array functions — no shuffle, no Python.  Takes *hashes*, not
    tokens: the vote lambda references each hash ``bits`` times, and
    HOF lambdas re-evaluate their argument expression per reference —
    hashing inside the lambda would md5 every token 60 times.
    ``bits`` caps at 63: bit 63's power literal exceeds Long.MAX —
    raise rather than silently emit a corrupt signature."""
    if not 1 <= bits <= 63:
        raise ValueError(f"bits must be in [1, 63], got {bits}")
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[F.when(F.shiftright(h, b) % 2 == 1,
                             F.lit(1)).otherwise(F.lit(-1))
                      for b in range(bits)]),
            lambda x, y: x + y))
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(bits)])
    return F.aggregate(
        F.zip_with(votes, powers,
                   lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x)


def token_hashes(col) -> Column:
    """Array of per-token portable hashes — one md5 per token."""
    return F.transform(tokens(col), lambda t: portable_hash(t))


def simhash(col, bits: int = 60) -> Column:
    """SimHash signature of a text column (see simhash_from_hashes)."""
    return simhash_from_hashes(token_hashes(col), bits)


def hamming_distance(a: Column, b: Column) -> Column:
    """Popcount of XOR — distance between simhash signatures."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                  max_distance: int = 6, bands: int = 4) -> DataFrame:
    """Near-dup pairs by simhash: band the 60-bit signature into
    ``bands`` 15-bit keys (pigeonhole: distance<=bands-1 guarantees a
    shared band; wider distances still mostly collide), equi-join per
    band, verify by hamming distance."""
    bits_per = 60 // bands
    sig = (ensure_parallelism(df)
           .select(F.col(id_col).alias("__id"),
                   token_hashes(text_col).alias("__h"))
           .select("__id", simhash_from_hashes(F.col("__h")).alias("__sig")))
    banded = sig.select(
        "__id", "__sig",
        F.posexplode(F.array(*[
            (F.shiftright("__sig", b * bits_per) % (2 ** bits_per))
            for b in range(bands)])).alias("__band", "__bkey"))
    a, b = banded.alias("a"), banded.alias("b")
    return (a.join(b, (F.col("a.__band") == F.col("b.__band"))
                   & (F.col("a.__bkey") == F.col("b.__bkey"))
                   & (F.col("a.__id") < F.col("b.__id")))
            .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
                    hamming_distance(F.col("a.__sig"), F.col("b.__sig"))
                    .alias("distance"))
            .dropDuplicates(["id_a", "id_b"])
            .filter(F.col("distance") <= max_distance))


# ---- pair clustering (the dedup end-step) ----------------------------------

def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_iter: int = 30) -> DataFrame:
    """Connected components over undirected near-dup pairs — the step
    that turns pairwise candidates into duplicate CLUSTERS.  Returns
    (node, component) with component = min node id in the cluster.

    Iterative min-label propagation (the standard large-graph
    formulation): each round every node takes the min of its own label
    and its neighbors'; converges in O(cluster diameter) rounds — near-
    dup clusters are shallow, so a handful.  Per round: one join + one
    partial-agg shuffle on node; `localCheckpoint` cuts lineage.

    Convergence is decided inside each round's own checkpoint job:
    labels only ever DECREASE, so a round changed something iff some
    node's label decreased, and an ``Observation`` on the checkpointed
    frame counts those nodes while the job runs (the aggregate keeps
    each node's previous label beside its new minimum).  No driver
    action runs besides the one eager checkpoint per round — the
    former seed and per-round label-sum collects are gone — and the
    test needs no sum, so it is exact for any orderable id type
    (strings and decimal(38,0) included).  Same labels, same round
    count."""
    from pyspark.sql import Observation

    # both edge directions from ONE scan of the (lazy, expensive) pair
    # plan: a union would run the whole pair pipeline twice
    a, b = F.col(id_a), F.col(id_b)
    sym = pairs.select(F.inline(F.array(
        F.struct(a.alias("__a"), b.alias("__b")),
        F.struct(b.alias("__a"), a.alias("__b")))))
    # serialized persist co-partitioned by __a, NOT an eager
    # localCheckpoint: the checkpoint's LogicalRDD drops
    # outputPartitioning under AQE, so in the at-scale regime (labels
    # too big to broadcast) every propagation round RE-SHUFFLED the
    # pair table; the cached InMemoryTableScan keeps
    # hashpartitioning(__a, nshuf), so each round shuffles only the
    # |nodes| label table.  The operator owns the terminal action
    # (the round checkpoints), so the cache is unpersisted before
    # return.
    nshuf = int(pairs.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    sym = sym.repartition(nshuf, "__a").persist(_SER_LEVEL)
    labels = (sym.select(F.col("__a").alias("node")).distinct()
              .withColumn("component", F.col("node")))
    for i in range(max_iter):
        # a node's own row carries its current label as __old too;
        # neighbor rows carry NULL there, which min() skips
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
        new = (new.observe(obs, F.count_if(F.col("component")
                                           < F.col("__old")).alias("n"))
               .select("node", "component").localCheckpoint(eager=True))
        if i:
            # the superseded round's checkpoint is dead once ``new`` is
            # materialized; free its blocks now.  Otherwise they live
            # until Python's cycle collector frees the py4j proxies of
            # every frame planned over it, and then a JVM GC runs
            labels._jdf.queryExecution().analyzed().rdd().unpersist(False)
        labels = new
        if obs.get["n"] == 0:
            break
    # labels is an eager checkpoint — independent of the pair cache
    sym.unpersist()
    return labels


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame,
                         id_col: str, id_a: str = "id_a",
                         id_b: str = "id_b") -> DataFrame:
    """Keep one canonical row (min id) per duplicate cluster; rows in
    no cluster survive untouched.  The full near-dup pipeline is
    pairs = minhash_lsh_pairs(...) → dedup_keep_canonical(df, pairs).
    ``id_a``/``id_b`` name the pair columns."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.filter(F.col("node") != F.col("component")) \
        .select(F.col("node").alias(id_col))
    return df.join(losers, id_col, "left_anti")


def dedup_keep_best(df: DataFrame, pairs: DataFrame, id_col: str,
                    order_by: list, id_a: str = "id_a",
                    id_b: str = "id_b",
                    components: DataFrame | None = None) -> DataFrame:
    """Quality-aware canonical selection: keep ONE row per duplicate
    cluster, chosen by an explicit ordering instead of
    :func:`dedup_keep_canonical`'s min-id rule — the production
    variant (when a page was crawled five times, keep the longest /
    highest-quality / newest copy, not the numerically smallest id).
    ``order_by`` is a list of Columns (e.g. ``[F.col("quality")
    .desc(), F.col("doc_id")]``); ALWAYS end it with a unique
    tie-break column so the winner is deterministic.  Rows in no
    cluster survive untouched.

    Scale shape: components over the pairs (the audited CC loop),
    one node-keyed join to attach component ids, and one
    component-partitioned row_number window — the window partitions
    by cluster, so no global sort; cluster sizes bound the per-key
    work (near-dup clusters are small by construction; a degenerate
    mega-cluster is a data smell the hot-bucket caps upstream
    already surface).  ``id_a``/``id_b`` name the pair columns
    (forwarded to :func:`connected_components`, matching
    :func:`leakage_safe_split`).  Pass ``components`` (a
    pre-computed :func:`connected_components` frame, which is
    checkpoint-materialized) when several stages share one pair
    graph — e.g. keep-best THEN a leakage-safe split — so the CC
    loop runs ONCE per pipeline instead of once per stage."""
    comp = (components if components is not None
            else connected_components(pairs, id_a, id_b))
    tagged = df.join(
        comp.select(F.col("node").alias(id_col),
                    F.col("component").alias("__comp")),
        id_col, "left")
    # singletons are their own cluster: key by coalesce(comp, id)
    key = F.coalesce(F.col("__comp"), F.col(id_col))
    w = Window.partitionBy(key).orderBy(*order_by)
    return (tagged.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__comp", "__rn"))


def leakage_safe_split(df: DataFrame, pairs: DataFrame, splits: dict,
                       id_col: str = "doc_id", label: str = "split",
                       id_a: str = "id_a", id_b: str = "id_b",
                       components: DataFrame | None = None) -> DataFrame:
    """Near-duplicate-aware train/validation/test split — the
    composition every pretraining pipeline needs but usually
    hand-rolls: a plain per-document hash split leaks whenever two
    near-duplicates land on opposite sides (the eval copy "grades"
    a memorized train copy), so the split key must be the DUPLICATE
    CLUSTER, not the document.  Given the near-dup ``pairs`` (from
    :func:`minhash_lsh_pairs` / :func:`ngram_jaccard_pairs` /
    :func:`simhash_pairs` — any pair source), this runs
    :func:`connected_components` (component = min member id), keys
    every row by ``coalesce(component, own id)`` (singletons split
    independently), and labels through the SAME
    :func:`preql_spark.operators.text.hash_split_label` rule as
    ``Table.split_by_hash`` — deterministic, reproducible
    cross-engine, and whole clusters land on one side by
    construction.

    Scale shape: components over near-dup pairs (pair-volume-bound,
    the already-audited CC loop), ONE node-keyed left join back onto
    the corpus, and a scan-local hash label — no new shuffle class
    beyond the audited pieces.  Returns ``df`` plus the ``label``
    column.  Pass ``components`` to reuse one pre-computed CC frame
    across pipeline stages (see :func:`dedup_keep_best`)."""
    comp = (components if components is not None
            else connected_components(pairs, id_a, id_b))
    k = df.join(
        comp.select(F.col("node").alias(id_col),
                    F.col("component").alias("__comp")),
        id_col, "left")
    from preql_spark.operators.text import hash_split_label
    key = F.coalesce(F.col("__comp"), F.col(id_col))
    return (k.withColumn(label, hash_split_label(key, splits))
            .drop("__comp"))


def cluster_size_histogram(pairs: DataFrame, id_a: str = "id_a",
                           id_b: str = "id_b") -> DataFrame:
    """Dedup observability datacard: the distribution of near-dup
    CLUSTER sizes — ``(cluster_size, n_clusters)``, sizes >= 2
    (singletons never enter the pair graph).  The report a pipeline
    publishes next to every dedup run: total duplicate volume is
    ``sum((size - 1) · n_clusters)``, and a boilerplate mega-cluster
    shows up as a fat tail long before it wrecks a window stage
    downstream.

    Scale shape: components over the pairs (the audited,
    pair-volume-bound CC loop), ONE component-keyed count and ONE
    size-keyed count — both over frames bounded by the number of
    duplicate nodes, never the corpus."""
    comp = connected_components(pairs, id_a, id_b)
    sizes = (comp.groupBy("component")
             .agg(F.count(F.lit(1)).alias("cluster_size")))
    return (sizes.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters")))


# ---- benchmark decontamination (train/eval n-gram overlap) -----------------

def contaminated_ids(train: DataFrame, eval_df: DataFrame, id_col: str,
                     text_col: str = "text", k: int = 8,
                     portable: bool = False) -> DataFrame:
    """Ids of training documents that share at least one k-token
    shingle with the eval corpus — benchmark decontamination in the
    GPT-3 appendix-C / Dolma style (drop training docs overlapping
    held-out eval sets).

    Scale shape: the eval side is the tiny one (benchmarks are MBs,
    the corpus is TBs) — its distinct shingle hashes are broadcast, so
    the 100 TB train side is ONE scan + per-row shingling + a broadcast
    semi-join; the only train-side shuffle is the final distinct on
    matched ids (contaminated docs, a small set).  Returns distinct
    ``id_col`` rows.

    ``portable=True`` hashes shingles with the md5-based cross-engine
    hash (for differential testing); default xxhash64 is ~3× cheaper
    and equivalent here because hashes only mediate the equality join.
    """
    hash_fn = portable_hash if portable \
        else (lambda c: F.xxhash64(c))

    def _shingle_hashes(df: DataFrame) -> DataFrame:
        return (ensure_parallelism(df)
                .select(F.col(id_col).alias("__id"),
                        tokens(text_col).alias("__t"))
                .select("__id",
                        F.explode(shingles_from_tokens(F.col("__t"), k))
                        .alias("__s"))
                .select("__id", hash_fn(F.col("__s")).alias("__h")))

    ev = F.broadcast(_shingle_hashes(eval_df).select("__h").distinct())
    return (_shingle_hashes(train).join(ev, "__h", "left_semi")
            .select(F.col("__id").alias(id_col)).distinct())


def decontaminate(train: DataFrame, eval_df: DataFrame, id_col: str,
                  text_col: str = "text", k: int = 8) -> DataFrame:
    """Remove training documents contaminated by eval overlap
    (anti-join against :func:`contaminated_ids`)."""
    bad = contaminated_ids(train, eval_df, id_col, text_col, k)
    return train.join(bad, id_col, "left_anti")


# ---- exact n-gram Jaccard (brute via shingle join) -------------------------

def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        k: int = 3, threshold: float = 0.7,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact Jaccard similarity pairs via shingle-explode + equi-join.
    ``max_doc_freq`` drops shingles appearing in more than that many
    docs (stopword shingles explode the join at scale)."""
    sh = (ensure_parallelism(df)
          .select(F.col(id_col).alias("__id"), tokens(text_col).alias("__t"))
          .select("__id",
                  F.explode(shingles_from_tokens(F.col("__t"), k)).alias("__s")))
    if max_doc_freq is not None:
        keep = sh.groupBy("__s").count() \
            .filter(F.col("count") <= max_doc_freq).drop("count")
        sh = sh.join(keep, "__s", "left_semi")
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.__s") == F.col("b.__s"))
                    & (F.col("a.__id") < F.col("b.__id")))
             .groupBy(F.col("a.__id").alias("id_a"),
                      F.col("b.__id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("__i")))
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__n").alias("__nb"))
    return (inter.join(sa, "id_a").join(sb, "id_b")
            .select("id_a", "id_b",
                    (F.col("__i") / (F.col("__na") + F.col("__nb") - F.col("__i")))
                    .cast("double").alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


# ---- unit-level (line / paragraph / chunk) dedup ---------------------------

def dedup_units(units: DataFrame, id_col: str = "doc_id",
                pos_col: str = "unit_no", unit_col: str = "unit") -> DataFrame:
    """Corpus-wide first-occurrence dedup of sub-document units (the
    CCNet paragraph-dedup shape): for every distinct unit string only
    the occurrence with the lowest ``(id, pos)`` survives.  One
    shuffle, keyed on the unit itself (Spark hash-partitions the
    string — equivalent to the hash-bucket-then-compare scheme, with
    the exact compare done by the partitioner's equality)."""
    w = Window.partitionBy(unit_col).orderBy(id_col, pos_col)
    return (units.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1).drop("__rn"))


def chunk_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", chunk: int = 3,
                sep: str = " ") -> DataFrame:
    """Chunk-level exact dedup with document reassembly: split each
    doc into ``chunk``-token units (scan-local — sequence+slice, no
    shuffle to chunk), drop every unit already seen earlier in the
    corpus (first occurrence by (doc_id, unit_no) wins), and rebuild
    the surviving text per doc.

    Returns ``(id_col, n_kept, text_dedup)``; docs whose every unit
    was seen elsewhere drop out entirely.  Cost at scale: one shuffle
    of (unit, id, pos) for the global first-occurrence pick + one
    shuffle on doc id for reassembly — text crosses the wire once per
    stage, never joined row-to-row."""
    words = F.split(F.col(text_col), sep)
    n_units = F.ceil(F.size(words) / F.lit(chunk)).cast("int")
    unit_list = F.transform(
        F.sequence(F.lit(0), n_units - 1),
        lambda i: F.array_join(F.slice(words, i * chunk + 1, chunk), sep))
    # r14 guide §2.5: chunking (split + per-unit array_join) is the
    # CPU-heavy pass — lift a small file count to full parallelism
    # before it (no-op at real scale)
    units = ensure_parallelism(df).select(
        id_col, F.posexplode(unit_list).alias("unit_no", "unit"))
    kept = dedup_units(units, id_col, "unit_no", "unit")
    return (kept.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("unit_no", "unit"))),
                         lambda s: s["unit"]),
                     sep).alias("text_dedup")))


def line_dedup(df: DataFrame, id_col: str = "doc_id",
               text_col: str = "text", sep: str = "\n") -> DataFrame:
    """Line/paragraph-level exact dedup (CCNet-style): one unit per
    ``sep``-separated segment.  Same keep rule and reassembly as
    :func:`chunk_dedup`."""
    units = df.select(id_col,
                      F.posexplode(F.split(F.col(text_col), sep))
                      .alias("unit_no", "unit"))
    kept = dedup_units(units, id_col, "unit_no", "unit")
    return (kept.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.array_join(
                     F.transform(
                         F.array_sort(F.collect_list(
                             F.struct("unit_no", "unit"))),
                         lambda s: s["unit"]),
                     sep).alias("text_dedup")))


# ---- dataset diff / overlap ------------------------------------------------

def corpus_overlap(a: DataFrame, b: DataFrame,
                   text_col: str = "text") -> DataFrame:
    """Content overlap between two corpora by normalized fingerprint:
    one row ``(n_a, n_b, n_common, jaccard)`` over the DISTINCT
    fingerprint sets.  The dataset-diff primitive for "how much of
    snapshot B is already in A" questions (crawl refresh triage,
    train/eval leakage audits at corpus granularity).

    Plan shape: each side is one scan + distinct on the 64-bit
    fingerprint (8-byte keys through the shuffle, never text), a
    fingerprint-keyed full outer join, then a single global agg row."""
    fa = (a.select(fingerprint64(F.col(text_col)).alias("__fp"))
          .distinct().withColumn("__ina", F.lit(1)))
    fb = (b.select(fingerprint64(F.col(text_col)).alias("__fp"))
          .distinct().withColumn("__inb", F.lit(1)))
    j = fa.join(fb, "__fp", "full_outer")
    both = F.col("__ina").isNotNull() & F.col("__inb").isNotNull()
    return j.agg(
        F.count("__ina").alias("n_a"),
        F.count("__inb").alias("n_b"),
        F.sum(both.cast("long")).alias("n_common"),
        (F.sum(both.cast("long"))
         / F.count(F.lit(1)).cast("double")).alias("jaccard"))


# ---- substring-level (span) duplication ------------------------------------

def duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", k: int = 8,
                    min_docs: int = 2) -> DataFrame:
    """Cross-document duplicate-SPAN detection — the substring-level
    dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better"), which catches boilerplate shared
    by otherwise-distinct pages that document-level MinHash misses.

    A position ``p`` of a document is *flagged* when the ``k``-token
    gram starting at ``p`` also occurs in at least ``min_docs``
    distinct documents (itself included).  Flagged positions are
    merged into maximal spans (intervals ``[p, p+k-1]`` merged when
    overlapping or adjacent), so ``dup_tokens`` counts each covered
    token exactly once.

    Returns one row per input document:
    ``(id, n_tokens, n_dup_grams, n_spans, dup_tokens, dup_ratio)``.

    Scale shape: the text never crosses a shuffle — grams leave the
    scan as 8-byte ``xxhash64`` fingerprints ``(gh, id, pos)``.
    One hash-agg on ``gh`` (partial map-side distinct) finds grams in
    >= ``min_docs`` docs; a semi-join (AQE-broadcastable — the dup
    set is tiny relative to the corpus) flags positions; interval
    merging is two windows partitioned by document id.  At 100 TB the
    only wide exchange is gram-keyed, and it carries 24-byte rows.

    r14: the gram frame (tokenize + explode + per-gram hash — the
    CPU-heavy pass) is persisted, so it is computed ONCE instead of
    once per consumer (the dup-set build and the position flagging
    both read it); same reuse-point pattern as tf_idf's doc_term."""
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    # guard: sequence(0, negative) generates a DESCENDING ramp, not
    # an empty array — short docs must yield no gram starts at all
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    base = df.select(F.col(id_col), toks.alias("__toks"),
                     starts.alias("__starts"))
    grams = base.select(
        id_col, F.explode("__starts").alias("__pos"),
        F.xxhash64(F.array_join(
            F.slice(F.col("__toks"), F.col("__pos") + 1, F.lit(k)),
            " ")).alias("__gh")).persist(_SER_LEVEL)
    dup = (grams.groupBy("__gh")
           .agg(F.countDistinct(id_col).alias("__nd"))
           .filter(F.col("__nd") >= min_docs).select("__gh"))
    flagged = grams.join(dup, "__gh", "left_semi")
    wprev = (Window.partitionBy(id_col).orderBy("__pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy(id_col).orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (flagged
          .withColumn("__e", F.col("__pos") + k - 1)
          .withColumn("__pm", F.max("__e").over(wprev))
          .withColumn("__new", (F.col("__pm").isNull()
                                | (F.col("__pos") > F.col("__pm") + 1))
                      .cast("int"))
          .withColumn("__iid", F.sum("__new").over(wrun)))
    spans = (iv.groupBy(id_col, "__iid")
             .agg((F.max("__e") - F.min("__pos") + 1).alias("__cov"),
                  F.count(F.lit(1)).alias("__ng")))
    per_doc = (spans.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_spans"),
                    F.sum("__cov").alias("dup_tokens"),
                    F.sum("__ng").alias("n_dup_grams")))
    docs = df.select(id_col, n.alias("n_tokens"))
    out = docs.join(per_doc, id_col, "left")
    return out.select(
        id_col, "n_tokens",
        F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        (F.coalesce("dup_tokens", F.lit(0))
         / F.col("n_tokens")).alias("dup_ratio"))


def remove_duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k: int = 8,
                           min_docs: int = 2) -> DataFrame:
    """Substring-level dedup REMOVAL (the acting half of
    :func:`duplicate_spans`, after Lee et al. 2022): every token
    covered by a cross-document duplicated span is dropped, except in
    the span's CANONICAL holder.

    Rule, defined at gram granularity so it is deterministic under
    partial overlaps: position ``p`` of doc ``d`` is *condemned* iff
    the k-gram at ``p`` occurs in >= ``min_docs`` distinct docs AND
    ``d`` is not the minimum doc id holding that gram.  Condemned
    positions merge to maximal intervals (the q137 machinery) and the
    covered tokens are dropped; the surviving tokens re-join in
    order.  A boilerplate sentence shared by 1000 pages therefore
    survives on exactly the lowest-id page.

    Returns ``(id, n_tokens, dropped_tokens, text_dedup)`` — one row
    per input doc (a fully-condemned doc keeps an empty string).

    Scale shape: same as duplicate_spans — grams shuffle as 8-byte
    fingerprints with their min-holder (one hash-agg), condemned
    positions come back via an equi-join on the gram key, intervals
    merge in doc-partitioned windows, and the final rebuild collects
    drop-intervals per doc (bounded by the doc's own length) next to
    the token array, filtering with codegen'd array predicates —
    the text column itself never crosses a corpus-keyed shuffle."""
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    base = df.select(F.col(id_col), toks.alias("__toks"),
                     starts.alias("__starts"))
    grams = base.select(
        id_col, F.explode("__starts").alias("__pos"),
        F.xxhash64(F.array_join(
            F.slice(F.col("__toks"), F.col("__pos") + 1, F.lit(k)),
            " ")).alias("__gh"))
    holders = (grams.groupBy("__gh")
               .agg(F.countDistinct(id_col).alias("__nd"),
                    F.min(id_col).alias("__keeper"))
               .filter(F.col("__nd") >= min_docs)
               .select("__gh", "__keeper"))
    condemned = (grams.join(holders, "__gh")
                 .filter(F.col(id_col) != F.col("__keeper"))
                 .select(id_col, "__pos"))
    wprev = (Window.partitionBy(id_col).orderBy("__pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy(id_col).orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (condemned
          .withColumn("__e", F.col("__pos") + k - 1)
          .withColumn("__pm", F.max("__e").over(wprev))
          .withColumn("__new", (F.col("__pm").isNull()
                                | (F.col("__pos") > F.col("__pm") + 1))
                      .cast("int"))
          .withColumn("__iid", F.sum("__new").over(wrun)))
    spans = (iv.groupBy(id_col, "__iid")
             .agg(F.min("__pos").alias("__lo"),
                  F.max("__e").alias("__hi")))
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(F.struct("__lo", "__hi"))
                    .alias("__spans")))
    joined = base.join(per_doc, id_col, "left") \
        .withColumn("__spans", F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<__lo:int,__hi:int>>")))

    def _alive(p):
        return ~F.exists("__spans",
                         lambda s: (p >= s["__lo"]) & (p <= s["__hi"]))

    kept = F.filter(
        F.transform(F.sequence(F.lit(0), F.size("__toks") - 1),
                    lambda i: i),
        _alive)
    return joined.select(
        id_col,
        F.size("__toks").alias("n_tokens"),
        F.aggregate("__spans", F.lit(0),
                    lambda acc, s: acc + (s["__hi"] - s["__lo"] + 1))
        .alias("dropped_tokens"),
        F.array_join(
            F.transform(kept,
                        lambda i: F.element_at(F.col("__toks"), i + 1)),
            " ").alias("text_dedup"))


def scrub_contaminated_spans(train: DataFrame, eval_df: DataFrame,
                             id_col: str = "doc_id",
                             text_col: str = "text", k: int = 8,
                             eval_text_col: str | None = None
                             ) -> DataFrame:
    """Span-level decontamination: every training token covered by a
    ``k``-gram that ALSO occurs anywhere in the eval set is dropped;
    the survivors re-join in order.  :func:`decontaminate` drops the
    whole document on one shared shingle — this keeps the document
    minus exactly the leaked spans, the right call when benchmarks
    quote common boilerplate (licenses, headers) that would otherwise
    delete half a crawl.

    Returns ``(id, n_tokens, dropped_tokens, text_clean)`` — one row
    per training doc (a fully-leaked doc keeps an empty string).

    Scale shape (the decontaminate contract times the q142 span
    machinery): the eval side reduces to a broadcast set of distinct
    8-byte gram fingerprints (benchmarks are MBs against TBs of
    train); the train side is ONE scan with scan-local gram hashing,
    a broadcast LeftSemi marking condemned positions, doc-partitioned
    interval-merge windows, and the array-predicate rebuild — train
    text never crosses a corpus-keyed shuffle.  If the eval gram set
    ever outgrows broadcast, drop the hint and AQE falls back to a
    shuffled semi-join."""
    ev_text = eval_text_col or text_col
    ev_toks = tokens(F.coalesce(F.col(ev_text), F.lit("")))
    ev_n = F.size(ev_toks)
    ev_starts = F.when(ev_n >= k, F.sequence(F.lit(0), ev_n - k)) \
        .otherwise(F.array().cast("array<int>"))
    ev_grams = (eval_df
                .select(ev_toks.alias("__toks"),
                        ev_starts.alias("__starts"))
                .select(F.explode("__starts").alias("__pos"),
                        F.col("__toks"))
                .select(F.xxhash64(F.array_join(
                    F.slice(F.col("__toks"), F.col("__pos") + 1,
                            F.lit(k)), " ")).alias("__gh"))
                .distinct())
    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    starts = F.when(n >= k, F.sequence(F.lit(0), n - k)) \
        .otherwise(F.array().cast("array<int>"))
    base = train.select(F.col(id_col), toks.alias("__toks"),
                        starts.alias("__starts"))
    grams = base.select(
        id_col, F.explode("__starts").alias("__pos"),
        F.xxhash64(F.array_join(
            F.slice(F.col("__toks"), F.col("__pos") + 1, F.lit(k)),
            " ")).alias("__gh"))
    condemned = (grams.join(F.broadcast(ev_grams), "__gh", "left_semi")
                 .select(id_col, "__pos"))
    wprev = (Window.partitionBy(id_col).orderBy("__pos")
             .rowsBetween(Window.unboundedPreceding, -1))
    wrun = (Window.partitionBy(id_col).orderBy("__pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    iv = (condemned
          .withColumn("__e", F.col("__pos") + k - 1)
          .withColumn("__pm", F.max("__e").over(wprev))
          .withColumn("__new", (F.col("__pm").isNull()
                                | (F.col("__pos") > F.col("__pm") + 1))
                      .cast("int"))
          .withColumn("__iid", F.sum("__new").over(wrun)))
    spans = (iv.groupBy(id_col, "__iid")
             .agg(F.min("__pos").alias("__lo"),
                  F.max("__e").alias("__hi")))
    per_doc = (spans.groupBy(id_col)
               .agg(F.collect_list(F.struct("__lo", "__hi"))
                    .alias("__spans")))
    joined = base.join(per_doc, id_col, "left") \
        .withColumn("__spans", F.coalesce(
            F.col("__spans"),
            F.array().cast("array<struct<__lo:int,__hi:int>>")))

    def _alive(p):
        return ~F.exists("__spans",
                         lambda s: (p >= s["__lo"]) & (p <= s["__hi"]))

    kept = F.filter(
        F.transform(F.sequence(F.lit(0), F.size("__toks") - 1),
                    lambda i: i),
        _alive)
    return joined.select(
        id_col,
        F.size("__toks").alias("n_tokens"),
        F.aggregate("__spans", F.lit(0),
                    lambda acc, s: acc + (s["__hi"] - s["__lo"] + 1))
        .alias("dropped_tokens"),
        F.array_join(
            F.transform(kept,
                        lambda i: F.element_at(F.col("__toks"), i + 1)),
            " ").alias("text_clean"))


def ngram_containment_pairs(df: DataFrame, id_col: str,
                            text_col: str = "text", k: int = 3,
                            threshold: float = 0.8,
                            max_doc_freq: int | None = None
                            ) -> DataFrame:
    """ORDERED containment pairs: ``containment(a -> b)`` =
    |shingles(a) ∩ shingles(b)| / |shingles(a)| — the asymmetric
    near-dup measure that catches a short document quoted inside a
    long one, which symmetric Jaccard dilutes.  Returns
    ``(id_a, id_b, containment)`` for every ordered pair (a != b)
    at or above ``threshold``.

    Same scale shape as :func:`ngram_jaccard_pairs`: shingle explode
    + equi-join (never all-pairs), with ``max_doc_freq`` dropping
    stopword shingles that would explode the join; the containment
    is one exact int64/int64 division."""
    sh = (ensure_parallelism(df)
          .select(F.col(id_col).alias("__id"),
                  tokens(text_col).alias("__t"))
          .select("__id",
                  F.explode(shingles_from_tokens(F.col("__t"), k))
                  .alias("__s")))
    # no .distinct(): shingles_from_tokens is already per-doc
    # distinct, so that would only add a full shuffle of the
    # largest intermediate
    if max_doc_freq is not None:
        keep = sh.groupBy("__s").count() \
            .filter(F.col("count") <= max_doc_freq).drop("count")
        sh = sh.join(keep, "__s", "left_semi")
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (a.join(b, (F.col("a.__s") == F.col("b.__s"))
                    & (F.col("a.__id") != F.col("b.__id")))
             .groupBy(F.col("a.__id").alias("id_a"),
                      F.col("b.__id").alias("id_b"))
             .agg(F.count(F.lit(1)).alias("__i")))
    sa = sizes.select(F.col("__id").alias("id_a"),
                      F.col("__n").alias("__na"))
    return (inter.join(sa, "id_a")
            .select("id_a", "id_b",
                    (F.col("__i") / F.col("__na")).cast("double")
                    .alias("containment"))
            .filter(F.col("containment") >= threshold))
