"""Graph operators — BFS reachability and rank-limited tree walk.

Reference: ``/root/reference/preql/modules/graph.pql:3-36`` implements
``bfs``/``walk_tree`` as recursive CTEs.  Two implementations here:
driver-side iterative fixpoint loops over DataFrame joins (cycle-safe
— anti-join dedup per round — with ``localCheckpoint`` every few
rounds to cut lineage, the standard Pregel-lite pattern; each
iteration is one hash join on the edge table, co-partitioned by src
after the first shuffle), and :func:`bfs_sql` on Spark 4's native
``WITH RECURSIVE`` operator for DAGs (also what the lang's ``SQL()``
``$self`` recursion compiles to).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def bfs(edges: DataFrame, initial: DataFrame,
        src: str = "src", dst: str = "dst", node: str = "node",
        max_iter: int = 50, checkpoint_every: int = 4) -> DataFrame:
    """All nodes reachable from ``initial`` (inclusive) — parity with
    graph.pql bfs (recursive CTE with UNION-distinct semantics).

    ``edges``: (src, dst).  ``initial``: single-column node frame.
    Returns a single-column DataFrame named ``node``.
    """
    visited = initial.select(F.col(initial.columns[0]).alias(node)).distinct()
    frontier = visited
    for i in range(max_iter):
        nxt = (frontier.join(edges, frontier[node] == edges[src])
               .select(F.col(dst).alias(node)).distinct()
               .join(visited, node, "left_anti"))
        nxt = nxt.localCheckpoint(eager=True) if (i % checkpoint_every == checkpoint_every - 1) \
            else nxt.cache()
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited


def bfs_sql(edges: DataFrame, initial: DataFrame,
            src: str = "src", dst: str = "dst", node: str = "node",
            max_depth: int = 100) -> DataFrame:
    """BFS via a native recursive CTE (Spark 4+ WITH RECURSIVE) — the
    same shape the reference emits for graph.pql bfs (:3-16), executed
    by Catalyst's recursion operator instead of a driver loop.  The
    driver-loop :func:`bfs` remains the choice when per-iteration
    checkpointing / persistence control matters; this form keeps the
    whole fixpoint inside one query plan.

    **DAGs only**: Spark's recursive CTE supports UNION ALL but not
    UNION-distinct in the recursive member, and exceeding the level cap
    raises rather than truncating — a cycle therefore cannot converge.
    Use the iterative :func:`bfs` (anti-join dedup per round) for
    general graphs; the reference targets engines whose recursive CTEs
    dedup (sqlite/postgres UNION), which is what bfs() reproduces."""
    spark = edges.sparkSession
    ev, iv = "__bfs_edges", "__bfs_init"
    edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")) \
        .createOrReplaceTempView(ev)
    initial.select(F.col(initial.columns[0]).cast(
        edges.schema[dst].dataType).alias("node")) \
        .createOrReplaceTempView(iv)
    return spark.sql(f"""
        WITH RECURSIVE reach(node) MAX RECURSION LEVEL {max_depth} AS (
            SELECT node FROM {iv}
            UNION ALL
            SELECT e.dst AS node
            FROM reach r JOIN {ev} e ON r.node = e.src
        )
        SELECT DISTINCT node AS {node} FROM reach
    """)


def walk_tree(edges: DataFrame, initial: DataFrame, max_rank: int,
              src: str = "src", dst: str = "dst", node: str = "node",
              ) -> DataFrame:
    """BFS with a rank (depth) limit, revisits allowed — parity with
    graph.pql walk_tree (:19-36).  Returns (node, rank) with one row
    per visit, like the reference's UNION ALL recursion."""
    frontier = initial.select(F.col(initial.columns[0]).alias(node),
                              F.lit(0).alias("rank"))
    out = frontier
    for r in range(1, max_rank + 1):
        frontier = (frontier.join(edges, frontier[node] == edges[src])
                    .select(F.col(dst).alias(node), F.lit(r).alias("rank")))
        frontier = frontier.localCheckpoint(eager=True) if r % 4 == 0 else frontier
        if frontier.isEmpty():
            break
        out = out.unionByName(frontier)
    return out


def pagerank(edges: DataFrame, iters: int = 10,
             src: str = "src", dst: str = "dst",
             units: int = 1_000_000,
             damping_num: int = 17, damping_den: int = 20,
             checkpoint_every: int = 3,
             weight_col: str | None = None,
             dangling: str = "drop") -> DataFrame:
    """Fixed-iteration PageRank in EXACT integer arithmetic —
    ``(node, rank_units bigint, rank double)``.

    Ranks live in integer units (``units`` per node initially); the
    damping factor is the rational ``damping_num/damping_den``
    (default 17/20 = 0.85) so every step is pure int64:

        contrib(v)  = rank(v) DIV outdeg(v)          (per out-edge)
        rank'(u)    = base + (sum contribs * num) DIV den
        base        = (units * (den - num)) DIV den

    ``weight_col`` (positive int64) switches to weighted PageRank:
    contrib along an edge becomes ``(rank * w) DIV wsum(v)`` with
    ``wsum`` the source's total out-weight — still pure int64
    (overflow bound: max rank * max weight < 2^63).

    Integer sums are order-independent, so the result is identical on
    any engine and any partitioning — the property float PageRank
    lacks (FP addition order varies run-to-run).  ``rank`` is
    ``rank_units / units`` through ONE correctly-rounded division.
    Dangling mass (nodes with no out-edges): ``dangling="drop"``
    (default) discards it — the "weak" variant; pass a bidirectional
    edge list if every node should circulate mass —
    ``dangling="redistribute"`` adds the classic uniform share
    ``D DIV |nodes|`` to every node's inflow before damping (pure
    int64; the ``D mod |nodes|`` remainder — under one rank unit per
    node — is dropped, documented mass leak).  The per-iteration
    dangling sum rides the plan as a single-row broadcast (the HITS
    rescale pattern): zero driver actions in the loop either way.
    Multi-edges contribute once per edge; pre-``distinct()`` the
    edge list for simple-graph semantics.

    Scale shape: the classic Pregel loop — per iteration ONE
    rank-to-edge hash join (edge side pre-joined with outdegree and
    repartitioned by src once, so the per-iteration shuffle is the
    rank table, sized |nodes| not |edges|) plus one dst-keyed partial
    agg; ``localCheckpoint`` every few rounds cuts lineage.  Overflow
    bound: |nodes| * units * num must stay < 2^63 (10^12 nodes at
    the default units).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, "
                         f"got {checkpoint_every}")
    if not (0 < damping_num < damping_den):
        raise ValueError("damping must satisfy 0 < num < den, got "
                         f"{damping_num}/{damping_den}")
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"dangling must be 'drop' or 'redistribute',"
                         f" got {dangling!r}")
    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        # in-plan contract check (zero extra passes): NULL weights
        # would silently vanish from F.sum and non-positive ones
        # break the mass interpretation and the 2^63 bound
        wc = F.col(weight_col).cast("long")
        w = F.when(wc.isNull() | (wc <= 0), F.raise_error(F.concat(
            F.lit("pagerank: weight must be a positive int64, got "),
            F.coalesce(F.col(weight_col).cast("string"),
                       F.lit("NULL"))))).otherwise(wc)
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"),
                     w.alias("__w"))
    nodes = (e.select(F.col("__s").alias("node"))
             .union(e.select(F.col("__d").alias("node")))
             .distinct().localCheckpoint(eager=False))
    deg = e.groupBy("__s").agg(F.sum("__w").alias("__deg"))
    # one edge-degree join up front, co-partitioned by src so every
    # iteration's rank join reuses the layout.  persist (serialized),
    # NOT localCheckpoint: the checkpoint's LogicalRDD drops
    # outputPartitioning under AQE, so each round RE-SHUFFLED the
    # edge table by __s (measured at sf0.01 with broadcast disabled —
    # the at-scale join regime: 4 extra edge-sized exchanges over 7
    # rounds, +76% shuffle bytes); the cached InMemoryTableScan keeps
    # hashpartitioning(__s, nshuf), so every round's rank join
    # shuffles only the |nodes| rank table.  Cache lifetime is
    # caller-owned — the returned frame is lazy, so the operator
    # never sees the terminal action.
    spark = edges.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    e_deg = (e.join(deg, "__s").repartition(nshuf, "__s")
             .persist(StorageLevel.MEMORY_AND_DISK))
    base = (units * (damping_den - damping_num)) // damping_den
    r = nodes.select("node", F.lit(int(units)).cast("long")
                     .alias("rank_units"))
    no_out = None
    if dangling == "redistribute":
        # the dangling node set is fixed across iterations
        no_out = nodes.join(deg.select(F.col("__s").alias("node")),
                            "node", "left_anti")
    # nodes that receive no inflow must still appear with __in = 0:
    # instead of a per-iteration nodes⋈inflow LEFT JOIN (a third
    # node-keyed shuffle every round), a zero-contribution row per
    # node is unioned into the aggregation — the zeros ride the
    # inflow agg's own exchange, int64 sums are unchanged, and every
    # iteration costs exactly two shuffles (rank join + inflow agg)
    zero_in = nodes.select("node", F.lit(0).cast("long").alias("__c"))
    for i in range(iters):
        inflow = (e_deg.join(r, e_deg["__s"] == r["node"])
                  .select(F.col("__d").alias("node"),
                          F.expr("(rank_units * __w) DIV __deg")
                          .alias("__c"))
                  .unionAll(zero_in)
                  .groupBy("node").agg(F.sum("__c").alias("__in")))
        stepped = inflow
        if no_out is not None:
            # single-row broadcast: (dangling rank sum) DIV |nodes|
            share = (r.join(no_out, "node", "leftsemi")
                     .agg(F.coalesce(F.sum("rank_units"), F.lit(0))
                          .alias("__dm"))
                     .crossJoin(nodes.agg(
                         F.count(F.lit(1)).alias("__nn")))
                     .select(F.expr("__dm DIV __nn").alias("__share")))
            stepped = stepped.crossJoin(F.broadcast(share))
            in_expr = "(__in + __share)"
        else:
            in_expr = "__in"
        r = stepped.select(
            "node",
            (F.lit(int(base)) + F.expr(
                f"({in_expr} * {int(damping_num)})"
                f" DIV {int(damping_den)}")).cast("long")
            .alias("rank_units"))
        if i % checkpoint_every == checkpoint_every - 1:
            r = r.localCheckpoint(eager=False)
    return r.select("node", "rank_units",
                    (F.col("rank_units") / F.lit(int(units)))
                    .alias("rank"))


# connected components lives in operators.dedup (it is the dedup
# clustering end-step) but is equally a graph operator — re-export
from preql_spark.operators.dedup import connected_components  # noqa: F401,E402


def triangle_count(edges: DataFrame, src: str = "src",
                   dst: str = "dst") -> DataFrame:
    """Exact triangle count of the undirected simple graph — one row
    ``(n_triangles bigint)``.  Edges canonicalize to (lo, hi) with
    self-loops dropped and duplicates merged, then the classic
    ordered two-path join: wedges (a<b<c) from (a,b)x(b,c) close on
    (a,c).  Pure int64 counting — deterministic on any engine.

    Scale shape: two equi-joins + one count, all on edge keys — the
    standard distributed formulation (each join shuffles by the
    shared endpoint; no node ever needs its full neighborhood in
    memory, unlike adjacency-intersection kernels).  Skewed hub
    vertices dominate the wedge join; AQE skew splitting or
    pre-capping degrees handles them at 100 TB."""
    e = (edges.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    wedges = ab.join(bc, "y")
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = wedges.join(ac, ["x", "z"])
    return tri.agg(F.count(F.lit(1)).cast("long")
                   .alias("n_triangles"))


def degree_assortativity(edges: DataFrame, src: str = "src",
                         dst: str = "dst") -> DataFrame:
    """Degree assortativity of the undirected simple graph — one row
    ``(n_edge_ends, assortativity)``: the Pearson correlation of
    endpoint degrees over every directed edge end (both directions,
    the standard symmetric definition).  Positive = hubs link hubs;
    negative = hub-and-spoke.

    Exactness: degrees are int64, the six correlation moments are
    exact int64 sums, and r = (n*Sxy - Sx*Sy) / (sqrt(n*Sxx - Sx^2)
    * sqrt(n*Syy - Sy^2)) is a FIXED sequence of correctly-rounded
    double ops — bit-identical cross-engine.  Zero-variance degree
    distributions (regular graphs) yield NULL.

    Scale shape: canonical edges -> one degree agg -> two
    broadcast-sized joins back onto the edge list -> one map-side
    moment fold.  Nothing holds a neighborhood in memory."""
    e = (edges.select(F.least(src, dst).alias("a"),
                      F.greatest(src, dst).alias("b"))
         .filter(F.col("a") != F.col("b")).distinct())
    both = e.union(e.select(F.col("b").alias("a"),
                            F.col("a").alias("b")))
    deg = both.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("a").alias("__x"), F.col("d").alias("dx"))
    db = deg.select(F.col("a").alias("__y"), F.col("d").alias("dy"))
    pairs = (both.join(da, both["a"] == da["__x"])
             .join(db, both["b"] == db["__y"])
             .select(F.col("dx").cast("long").alias("x"),
                     F.col("dy").cast("long").alias("y")))
    m = pairs.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("x").alias("sx"), F.sum("y").alias("sy"),
                  F.sum(F.col("x") * F.col("x")).alias("sxx"),
                  F.sum(F.col("y") * F.col("y")).alias("syy"),
                  F.sum(F.col("x") * F.col("y")).alias("sxy"))
    num = (F.col("n") * F.col("sxy")
           - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx")
          - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy")
          - F.col("sy") * F.col("sy")).cast("double")
    den = F.sqrt(vx) * F.sqrt(vy)
    return m.select(F.col("n").alias("n_edge_ends"),
                    F.when(den > 0, num / den)
                    .alias("assortativity"))


def hits(edges: DataFrame, iters: int = 5,
         src: str = "src", dst: str = "dst",
         units: int = 1_000_000,
         checkpoint_every: int = 3) -> DataFrame:
    """Fixed-iteration HITS in EXACT integer arithmetic —
    ``(node, hub_units bigint, auth_units bigint)``.

    Per round: auth'(u) = sum of in-neighbor hubs, hub'(u) = sum of
    out-neighbor NEW auths, then each vector rescales so its max is
    ``units`` (``x * units DIV max`` — the integer twin of the usual
    max-normalization).  Pure int64 throughout, so the result is
    order-independent and bit-identical cross-engine; nodes with no
    in-edges (auth 0) / no out-edges (hub 0) behave per the
    definition.  Overflow bound: max_degree * |nodes| * units < 2^63.

    Scale shape: two edge joins + two keyed partial aggs per round
    (the Pregel shape, like :func:`pagerank`); each max-rescale folds
    its L-inf max back in AS A PLAN COLUMN — a single-row broadcast
    crossJoin — so the whole fixed-iteration computation is ONE job
    with zero driver actions inside the loop (a per-iteration
    ``collect`` of the max would run a full |nodes| job twice per
    round and, with non-eager checkpoints, recompute the lineage for
    the following action); ``localCheckpoint`` bounds lineage."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, "
                         f"got {checkpoint_every}")
    e = edges.select(F.col(src).alias("__s"),
                     F.col(dst).alias("__d")).distinct()
    spark = edges.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # two serialized cached copies, one per join key (persist keeps
    # hashpartitioning through InMemoryTableScan; localCheckpoint's
    # LogicalRDD drops it under AQE and re-shuffled the edge table
    # every round — see pagerank): the auth join keys on __s, the
    # hub join on __d, so each copy pays its shuffle ONCE and every
    # round shuffles only the |nodes| score table.  Cache lifetime
    # is caller-owned (the returned frame is lazy).
    e = (e.repartition(nshuf, "__s")
         .persist(StorageLevel.MEMORY_AND_DISK))
    e_byd = (e.repartition(nshuf, "__d")
             .persist(StorageLevel.MEMORY_AND_DISK))
    nodes = (e.select(F.col("__s").alias("node"))
             .union(e.select(F.col("__d").alias("node")))
             .distinct().localCheckpoint(eager=False))
    u = int(units)
    hv = nodes.select("node", F.lit(u).cast("long").alias("h"))

    def _rescale(df, col):
        # integer L-inf normalization, all in-plan: broadcast the
        # one-row max and divide — (x * units) DIV max, 0 when the
        # vector is all-zero (sums are non-negative int64)
        mx = df.agg(F.max(col).alias("__mx"))
        return (df.crossJoin(F.broadcast(mx))
                .withColumn(col, F.when(
                    F.col("__mx") <= 0, F.lit(0).cast("long"))
                    .otherwise(F.expr(f"({col} * {u}) DIV __mx")))
                .drop("__mx"))

    # zero-score nodes ride each aggregation's own exchange as
    # unioned zero rows (the pagerank r15 spelling): two per-round
    # node-keyed LEFT JOINs gone, int64 sums unchanged (sum + 0)
    zero_v = nodes.select("node", F.lit(0).cast("long").alias("__v"))
    for i in range(iters):
        av = (e.join(hv, e["__s"] == hv["node"])
              .select(F.col("__d").alias("node"),
                      F.col("h").alias("__v"))
              .unionAll(zero_v)
              .groupBy("node").agg(F.sum("__v").alias("a")))
        av = _rescale(av, "a").localCheckpoint(eager=False)
        hv = (e_byd.join(av, e_byd["__d"] == av["node"])
              .select(F.col("__s").alias("node"),
                      F.col("a").alias("__v"))
              .unionAll(zero_v)
              .groupBy("node").agg(F.sum("__v").alias("h")))
        hv = _rescale(hv, "h")
        if i % checkpoint_every == checkpoint_every - 1:
            hv = hv.localCheckpoint(eager=False)
    return (hv.join(av, "node")
            .select("node", F.col("h").alias("hub_units"),
                    F.col("a").alias("auth_units")))


def shortest_paths(edges: DataFrame, sources: DataFrame,
                   max_rounds: int = 20,
                   src: str = "src", dst: str = "dst",
                   weight_col: str | None = None) -> DataFrame:
    """Single/multi-source shortest paths by Bellman-Ford rounds —
    ``(node, dist bigint)`` for every reachable node.  ``sources``:
    a single-column frame of start nodes (dist 0); edge weights are
    positive int64 (default 1 = hop count).  Iterates until no
    distance improves or ``max_rounds`` — with non-negative weights
    the fixpoint IS Dijkstra's answer, and integer mins are
    order-independent, so the result is deterministic and
    cross-engine exact.

    Scale shape: per round one dist-to-edge hash join (edge side
    pre-partitioned by src once) + one dst-keyed min agg + a min
    merge with the current frontier — the Pregel relaxation;
    ``localCheckpoint`` per round bounds lineage; early-exit on
    convergence.

    Convergence test (r14, guide §1.2 — labels-only-decrease, the
    argument connected_components also uses): nodes never LEAVE the dist
    table (``new`` unions the old table) and distances only ever
    DECREASE, so the round changed something iff the row count grew
    or the exact dist sum dropped.  One (count, decimal(38,0) sum)
    scalar aggregate over the just-checkpointed table replaces the
    former ``new ⋈ old`` join + ``isEmpty`` action per round —
    count equal ⇒ same node set (nodes never leave), and then sum
    equal with every term ≤ its old value ⇒ every term equal.
    Exact at any graph size (no int64 overflow in the decimal
    sum)."""
    if max_rounds < 1:
        raise ValueError(f"max_rounds must be >= 1, got {max_rounds}")
    if weight_col is None:
        w = F.lit(1).cast("long")
    else:
        wc = F.col(weight_col).cast("long")
        w = F.when(wc.isNull() | (wc <= 0), F.raise_error(F.concat(
            F.lit("shortest_paths: weight must be a positive int64,"
                  " got "),
            F.coalesce(F.col(weight_col).cast("string"),
                       F.lit("NULL"))))).otherwise(wc)
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"),
                     w.alias("__w"))
    spark = edges.sparkSession
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    # persist, not localCheckpoint — keeps hashpartitioning(__s)
    # visible to every round's relax join (see pagerank); the
    # operator owns the terminal action here (the convergence
    # collects), so the cache is unpersisted before return
    e = (e.repartition(nshuf, "__s")
         .persist(StorageLevel.MEMORY_AND_DISK))
    dist = (sources.select(F.col(sources.columns[0]).alias("node"))
            .distinct().withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=True))

    def _state(frame: DataFrame):
        # exact (row count, dist sum) scalar pair — see docstring
        row = frame.agg(
            F.count(F.lit(1)),
            F.try_sum(F.col("dist").cast("decimal(38,0)"))).collect()[0]
        return row[0], row[1]

    prev = _state(dist)
    for _ in range(max_rounds):
        relaxed = (e.join(dist, e["__s"] == dist["node"])
                   .select(F.col("__d").alias("node"),
                           (F.col("dist") + F.col("__w"))
                           .alias("dist")))
        new = (dist.unionByName(relaxed)
               .groupBy("node").agg(F.min("dist").alias("dist"))
               .localCheckpoint(eager=True))
        cur = _state(new)
        dist = new
        # a NULL sum with rows present means the decimal(38,0) sum
        # overflowed (non-ANSI sum returns NULL) — two consecutive
        # NULLs would compare equal and stop the loop while distances
        # may still be dropping.  Equality then proves nothing, so
        # keep relaxing (worst case: max_rounds, still the correct
        # fixpoint).  An EMPTY table's NULL sum still converges via
        # the count.  (r15, ADVICE r14.)
        if cur == prev and not (cur[0] > 0 and cur[1] is None):
            break
        prev = cur
    # dist is an eager checkpoint — independent of the edge cache
    e.unpersist()
    return dist
