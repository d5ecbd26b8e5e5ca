"""Embedding clustering and cluster-based semantic dedup.

``kmeans`` is Lloyd's algorithm over DataFrames, sharing the IVF
coarse-quantizer core (:func:`preql_spark.operators.similarity.ivf_build`):
the centroid set lives driver-side (k x dim doubles -- bounded
metadata, same pattern as the IVF centroids), assignment is a
scan-local codegen'd argmin over k literal arrays (zero shuffle), and
each update ships only (cluster, dim, partial-avg) scalar rows through
one narrow shuffle.  Per-iteration cost at 100 TB: one corpus scan +
one k*dim-row shuffle -- no corpus-scale shuffle anywhere.

``semdedup`` is the cluster-pruned semantic dedup of SemDeDup
(Abbas et al. 2023, arXiv:2303.09540): k-means over embeddings, then
within each cluster drop every vector with a lower-id cluster-mate at
cosine >= tau.  Pair generation is an equi-join on the cluster id, so
candidate volume is sum(|cluster|^2) instead of n^2 -- the clustering
is what makes semantic dedup feasible at corpus scale.

No reference equivalent (Preql has no vector operations); these are
beyond-reference training-data operators per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from preql_spark.operators.similarity import dot, ivf_build, norm


def kmeans(df: DataFrame, k: int = 8, iters: int = 2,
           id_col: str = "vec_id", vec_col: str = "embedding",
           assign_method: str = "hof"):
    """Lloyd's k-means with deterministic init (the k lowest-id
    vectors).  Runs ``iters`` centroid updates, then assigns every
    row to its nearest final centroid (squared euclidean, ties to the
    lowest cluster id).  ``assign_method="arrow"`` is the large-k
    batch-matmul assignment (see
    :func:`preql_spark.operators.similarity.ivf_build`).

    Returns ``(assignments, centroids)`` where assignments is a
    DataFrame ``(id_col, cluster, vec_col)`` with ``cluster`` in
    ``[0, k)`` and centroids is a ``k x dim`` Python list (bounded
    driver-side metadata, safe to broadcast into further expressions).
    """
    assigned, cents = ivf_build(df, dim=0, n_centroids=k, iters=iters,
                                id_col=id_col, vec_col=vec_col,
                                assign_method=assign_method)
    out = assigned.select(F.col("__id").alias(id_col),
                          (F.col("__cid") - 1).cast("int").alias("cluster"),
                          F.col("__v").alias(vec_col))
    return out, cents


def semdedup(df: DataFrame, tau: float = 0.45, k: int = 8, iters: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding",
             keep: str = "min_id",
             pair_method: str = "arrow",
             max_group: int = 65_536) -> DataFrame:
    """Semantic dedup: cluster, then drop near-duplicate cluster-mates
    at cosine >= tau, keeping one representative per neighborhood.

    ``pair_method`` picks the min-id pair kernel:

    - ``"arrow"`` (default): BLOCKWISE gram matrices in an Arrow
      ``applyInPandas`` kernel — the |cluster|² cosine stage is dense
      vector math, which belongs in BLAS, not in Spark's
      higher-order-function fold (``zip_with``/``aggregate`` are
      CodegenFallback: interpreted per pair; the gram kernel measured
      ~8× faster on q101 at sf0.1, matching DuckDB's vectorized
      throughput).  A cluster larger than ``max_group`` rows is
      SALTED into hash sub-blocks and every sub-block pair becomes
      its own task group, so per-task memory is bounded by
      ``2·max_group`` rows (plus the 4096² gram block) — a
      mega-cluster cannot OOM one executor; candidate volume is
      unchanged (every in-cluster pair is still examined exactly
      once per group it lands in, drops are de-duplicated after).
    - ``"sql"``: the pure-DataFrame cluster-local pair join — keeps
      everything JVM-side; the cross-check path (pytest asserts both
      methods return identical survivors).

    ``keep`` selects the representative rule, both deterministic:

    - ``"min_id"`` (default): drop any vector with a *lower-id*
      cluster-mate at cosine >= tau — one pair join, no extra passes;
      the rule the q101 oracle replays.
    - ``"far_from_centroid"``: the paper's rule (SemDeDup §2, keep the
      example with the LOWEST cosine similarity to the cluster
      centroid) — near-dup pairs become connected components
      (:func:`preql_spark.operators.dedup.connected_components`), and
      each component keeps its centroid-farthest member (id as
      tiebreak).  Costs the CC iteration on the PAIR graph only
      (near-dup pairs, not the corpus).

    Returns the surviving rows ``(id_col, cluster)``.  The pair join
    is cluster-local: both sides shuffle once on the cluster id and
    candidates are |cluster|-bounded, never corpus-bounded.
    """
    if max_group < 1:
        raise ValueError(f"max_group must be >= 1, got {max_group}")
    if pair_method not in ("arrow", "sql"):
        raise ValueError(f"pair_method must be arrow/sql, "
                         f"got {pair_method!r}")
    assigned, cents = kmeans(df, k=k, iters=iters, id_col=id_col,
                             vec_col=vec_col)
    if keep == "far_from_centroid":
        return _semdedup_centroid(assigned, cents, tau, id_col, vec_col,
                                  pair_method=pair_method,
                                  max_group=max_group)
    # the norm column only serves the sql pair join — computing it on
    # the arrow path would add a dead projection level to the plan
    base = assigned.select(F.col(id_col).alias("__id"), "cluster",
                           F.col(vec_col).alias("__v"))
    if pair_method == "arrow":
        drops = _min_id_drops_arrow(base, tau, max_group=max_group)
    elif pair_method == "sql":
        normed = base.withColumn("__n", norm(F.col("__v")))
        left = normed.select(F.col("__id").alias("id_a"), "cluster",
                             F.col("__v").alias("__va"),
                             F.col("__n").alias("__na"))
        right = normed.select(F.col("__id").alias("id_b"),
                              F.col("cluster").alias("__cb"),
                              F.col("__v").alias("__vb"),
                              F.col("__n").alias("__nb"))
        # try_divide: a zero-norm vector has UNDEFINED cosine — the
        # policy (both pair_methods) is "never a match": NULL here,
        # NaN->False in the arrow kernel.  Bare / would crash under
        # ANSI mode, and Spark/DuckDB's NaN-compares-greater
        # semantics would have called it a match — the principled
        # option is taken explicitly instead.
        drops = (left.join(right, (F.col("cluster") == F.col("__cb"))
                           & (F.col("id_a") < F.col("id_b")))
                 .filter(F.try_divide(
                     dot(F.col("__va"), F.col("__vb")),
                     F.col("__na") * F.col("__nb")) >= tau)
                 .select(F.col("id_b").alias("__drop"))
                 .distinct())
    else:
        raise ValueError(f"pair_method must be arrow/sql, "
                         f"got {pair_method!r}")
    return (base.join(drops, base["__id"] == drops["__drop"], "left_anti")
            .select(F.col("__id").alias(id_col), "cluster"))


def _min_id_drops_arrow(base: DataFrame, tau: float,
                        block: int = 4096,
                        max_group: int = 65_536) -> DataFrame:
    """(__drop) ids having a lower-id cluster-mate at cosine >= tau,
    via blockwise gram matrices (see semdedup).

    Memory bound: a cluster of n rows is hash-salted into
    ``s = ceil(n / max_group)`` sub-blocks; each task group is one
    sub-block pair (ga <= gb), so a task holds at most ``2·max_group``
    rows of the cluster (plus one ``block``² float64 gram tile) no
    matter how large the cluster is.  Every in-cluster pair lands in
    exactly one group, drops are ``distinct``-ed because one id can be
    dropped by several groups.  The common case (cluster <= max_group)
    degenerates to s = 1, a single (0, 0) group per cluster.

    The output schema mirrors the id column's own type, so string or
    integral ids both work.  Zero-norm vectors have undefined cosine
    and never match (numpy NaN >= tau is False, matching the sql
    path's try_divide NULL).  Exactness note: the sql fold sums
    products left-to-right while BLAS may sum pairwise, so a cosine
    within one ulp of tau could in principle differ between paths —
    real corpora (and the fixtures the cross-check test uses) have
    finite margins at the threshold."""
    from pyspark.sql import types as T

    id_type = base.schema["__id"].dataType
    out_schema = T.StructType([T.StructField("__drop", id_type)])

    def _mat(part):
        import numpy as np
        return np.stack(part.to_numpy()).astype(np.float64)

    def _pairs_lower(ids, m, nrm):
        """dropped[j] = any i < j with cos(i, j) >= tau (ids sorted)."""
        import numpy as np
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
                # NaN >= tau is False in numpy: zero-norm never matches
                match = sim >= tau
                # strictly-lower GLOBAL index (ids sorted => lower id)
                gi = np.arange(i0, i1)[:, None]
                gj = np.arange(j0, j1)[None, :]
                hit |= (match & (gi < gj)).any(axis=0)
            dropped[j0:j1] = hit
        return dropped

    def find_drops(key, pdf):
        import numpy as np
        import pandas as pd
        _, ga, gb = key
        if ga == gb:
            pdf = pdf.sort_values("__id", kind="mergesort")
            ids = pdf["__id"].to_numpy()
            m = _mat(pdf["__v"])
            dropped = _pairs_lower(ids, m, np.linalg.norm(m, axis=1))
            return pd.DataFrame({"__drop": ids[dropped]})
        # cross-sub-block group: compare block ga rows against block
        # gb rows; whichever side of a matched pair has the HIGHER id
        # drops (within-block pairs belong to the (b, b) groups)
        a, b = pdf[pdf["__b"] == ga], pdf[pdf["__b"] == gb]
        if not len(a) or not len(b):
            return pd.DataFrame({"__drop": pdf["__id"][:0]})
        ida, idb = a["__id"].to_numpy(), b["__id"].to_numpy()
        ma, mb = _mat(a["__v"]), _mat(b["__v"])
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
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

    # cluster sizes via a WINDOW count, not a separate aggregate: a
    # groupBy subtree would recompute the upstream assignment (the
    # expensive argmin scan) a second time and broadcast-join it back
    # — the window rides the same single pass, and its
    # partition-by-cluster exchange is the co-partitioning the
    # group-by-(cluster, sub-block pair) stage wants anyway
    wc = Window.partitionBy("cluster")
    salted = (base.withColumn("__cn", F.count(F.lit(1)).over(wc))
              .withColumn("__s", F.ceil(F.col("__cn") / F.lit(max_group))
                          .cast("int"))
              .withColumn("__b", F.pmod(F.hash("__id"), F.col("__s"))
                          .cast("int")))
    # one group struct per sub-block t: (min(t,b), max(t,b)) — exactly
    # the s groups this row participates in, covering every block pair
    groups = F.transform(
        F.sequence(F.lit(0), F.col("__s") - 1),
        lambda t: F.struct(F.least(t, F.col("__b")).alias("ga"),
                           F.greatest(t, F.col("__b")).alias("gb")))
    return (salted.select("cluster", "__b", "__id", "__v",
                          F.explode(groups).alias("__g"))
            .select("cluster", F.col("__g.ga").alias("__ga"),
                    F.col("__g.gb").alias("__gb"), "__b", "__id", "__v")
            .groupBy("cluster", "__ga", "__gb")
            .applyInPandas(find_drops, schema=out_schema)
            .distinct())


def _pairs_arrow(base: DataFrame, tau: float, block: int = 4096,
                 max_group: int = 65_536) -> DataFrame:
    """(id_a, id_b) in-cluster pairs at cosine >= tau, id_a < id_b —
    the PAIR-emitting face of the salted gram kernel (same group
    structure and memory bound as :func:`_min_id_drops_arrow`).  A
    pair lands in exactly one group — same-block pairs in (b, b),
    cross-block pairs in (min, max) — so no post-dedup is needed.
    Output volume equals the SQL pair join's (near-dup density ×
    corpus), but the |cluster|²-candidate COSINE work runs in BLAS
    instead of a CodegenFallback HOF fold per pair."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    id_type = base.schema["__id"].dataType
    out_schema = T.StructType([T.StructField("id_a", id_type),
                               T.StructField("id_b", id_type)])

    def _mat(part):
        import numpy as np
        return np.stack(part.to_numpy()).astype(np.float64)

    def find_pairs(key, pdf):
        import numpy as np
        import pandas as pd
        _, ga, gb = key
        out_a, out_b = [], []
        if ga == gb:
            pdf = pdf.sort_values("__id", kind="mergesort")
            ids = pdf["__id"].to_numpy()
            m = _mat(pdf["__v"])
            nrm = np.linalg.norm(m, axis=1)
            n = len(ids)
            for i0 in range(0, n, block):
                i1 = min(i0 + block, n)
                for j0 in range(i0, n, block):
                    j1 = min(j0 + block, n)
                    g = m[i0:i1] @ m[j0:j1].T
                    with np.errstate(divide="ignore", invalid="ignore"):
                        sim = g / np.outer(nrm[i0:i1], nrm[j0:j1])
                    match = sim >= tau
                    gi = np.arange(i0, i1)[:, None]
                    gj = np.arange(j0, j1)[None, :]
                    ii, jj = np.nonzero(match & (gi < gj))
                    out_a.append(ids[ii + i0])
                    out_b.append(ids[jj + j0])
        else:
            a = pdf[pdf["__b"] == ga]
            b = pdf[pdf["__b"] == gb]
            if len(a) and len(b):
                ida, idb = a["__id"].to_numpy(), b["__id"].to_numpy()
                ma, mb = _mat(a["__v"]), _mat(b["__v"])
                na = np.linalg.norm(ma, axis=1)
                nb = np.linalg.norm(mb, axis=1)
                for i0 in range(0, len(ida), block):
                    i1 = min(i0 + block, len(ida))
                    for j0 in range(0, len(idb), block):
                        j1 = min(j0 + block, len(idb))
                        g = ma[i0:i1] @ mb[j0:j1].T
                        with np.errstate(divide="ignore",
                                         invalid="ignore"):
                            sim = g / np.outer(na[i0:i1], nb[j0:j1])
                        ii, jj = np.nonzero(sim >= tau)
                        la, lb = ida[ii + i0], idb[jj + j0]
                        lower = la < lb
                        out_a.append(np.where(lower, la, lb))
                        out_b.append(np.where(lower, lb, la))
        if not out_a:
            return pd.DataFrame({"id_a": pdf["__id"][:0],
                                 "id_b": pdf["__id"][:0]})
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b)})

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
    return (salted.select("cluster", "__b", "__id", "__v",
                          F.explode(groups).alias("__g"))
            .select("cluster", F.col("__g.ga").alias("__ga"),
                    F.col("__g.gb").alias("__gb"), "__b", "__id", "__v")
            .groupBy("cluster", "__ga", "__gb")
            .applyInPandas(find_pairs, schema=out_schema))


def _semdedup_centroid(assigned: DataFrame, cents: list, tau: float,
                       id_col: str, vec_col: str,
                       pair_method: str = "arrow",
                       max_group: int = 65_536) -> DataFrame:
    """Paper-rule SemDeDup keep: near-dup pairs -> connected
    components -> keep each component's member with the lowest cosine
    to its cluster centroid (i.e. farthest from the centroid; lowest
    id breaks exact ties).  Pair generation shares the min-id path's
    kernels: ``"arrow"`` (default) emits pairs from the salted
    blockwise gram kernel; ``"sql"`` is the pure-DataFrame
    cross-check join."""
    from pyspark.sql import Window

    from preql_spark.operators.dedup import connected_components

    base = assigned.select(F.col(id_col).alias("__id"), "cluster",
                           F.col(vec_col).alias("__v"),
                           norm(F.col(vec_col)).alias("__n"))
    if pair_method == "arrow":
        pairs = _pairs_arrow(base.select("__id", "cluster", "__v"),
                             tau, max_group=max_group)
    else:
        left = base.select(F.col("__id").alias("id_a"), "cluster",
                           F.col("__v").alias("__va"),
                           F.col("__n").alias("__na"))
        right = base.select(F.col("__id").alias("id_b"),
                            F.col("cluster").alias("__cb"),
                            F.col("__v").alias("__vb"),
                            F.col("__n").alias("__nb"))
        pairs = (left.join(right, (F.col("cluster") == F.col("__cb"))
                           & (F.col("id_a") < F.col("id_b")))
                 .filter(F.try_divide(
                     dot(F.col("__va"), F.col("__vb")),
                     F.col("__na") * F.col("__nb")) >= tau)
                 .select("id_a", "id_b"))
    comp = connected_components(pairs)  # (node, component)

    # cosine of every paired vector to its own cluster centroid —
    # centroid literals ride the expression, no join
    cent_arr = F.array(*[F.array(*[F.lit(float(x)) for x in c])
                         for c in cents])
    cvec = F.element_at(cent_arr, F.col("cluster") + 1)
    cn = F.sqrt(F.aggregate(F.transform(cvec, lambda x: x * x),
                            F.lit(0.0), lambda a, v: a + v))
    to_cent = (dot(F.col("__v"), cvec) / (F.col("__n") * cn)).alias("__cc")

    scored = (base.join(comp, base["__id"] == comp["node"])
              .select("__id", "cluster", F.col("component").alias("__g"),
                      to_cent))
    w = Window.partitionBy("__g").orderBy(F.col("__cc").asc(), F.col("__id"))
    keepers = (scored.withColumn("__rk", F.row_number().over(w))
               .filter(F.col("__rk") == 1)
               .select(F.col("__id").alias("__keep")))
    in_any_pair = comp.select(F.col("node").alias("__id"))
    survivors_solo = base.join(in_any_pair, "__id", "left_anti")
    survivors_rep = base.join(
        keepers, base["__id"] == keepers["__keep"], "left_semi")
    return (survivors_solo.unionByName(survivors_rep)
            .select(F.col("__id").alias(id_col), "cluster"))
