"""Physical-plan audits — the 100 TB design gate.

Each test asserts the property that matters at scale: filters reach
the parquet scan, projections prune columns, small dimensions
broadcast, aggregates have a map-side partial phase, top-k lowers to
TakeOrderedAndProject, and hot paths stay inside WholeStageCodegen.
"""

import os

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from tests.conftest import SF_DIR


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def test_filter_pushdown_to_parquet(spark):
    df = entry.q06_forecast_revenue(spark, SF_DIR)
    plan = plan_of(df)
    assert "PushedFilters:" in plan
    # the discount-range predicates must reach the scan
    assert "GreaterThanOrEqual(l_discount" in plan
    assert "LessThan(l_quantity" in plan


def test_column_pruning(spark):
    df = entry.q06_forecast_revenue(spark, SF_DIR)
    plan = plan_of(df)
    # scan must read only the three referenced columns
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read and "l_discount" in read
    assert "l_orderkey" not in read and "l_shipdate" not in read


def test_dimension_broadcast(spark):
    df = entry.q04_revenue_by_nation(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan  # nation hinted broadcast


def test_partial_aggregation(spark):
    df = entry.q01_pricing_summary(spark, SF_DIR)
    plan = plan_of(df)
    # map-side combine before the exchange
    assert "partial_sum" in plan or "partial_count" in plan


def test_topk_lowering(spark):
    df = entry.q10_projection_markup(spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_hot_path(spark):
    df = entry.q16_casts(spark, SF_DIR)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen")
    assert "Found 1 WholeStageCodegen subtrees." in plan


def test_semi_join_for_membership(spark):
    df = entry.q18_semi_join(spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftSemi" in plan


def test_anti_join_for_negation(spark):
    df = entry.q19_anti_join(spark, SF_DIR)
    plan = plan_of(df)
    assert "LeftAnti" in plan


def test_minhash_banding_not_cartesian(spark):
    """The LSH candidate join must be an equi-join on band keys, never
    a cartesian/BNLJ over documents."""
    df = entry.q38_neardup_minhash(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lsh_exact_banding_not_cartesian(spark):
    """q41's graded LSH spelling: candidate generation must be an
    equi-join on (band, band-key) — no cartesian/theta join — and the
    vectors must NOT ride the band explode (only narrow id/sig rows
    enter the candidate shuffle; vectors re-join by id afterwards)."""
    df = entry.q41_embedding_neardup(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # band join keys present in some exchange
    assert "__band" in plan and "__bkey" in plan


def test_contrastive_lsh_partial_topk_no_window(spark):
    """q113's hard-negative top-k must be a grouped
    collect_list/array_sort/slice with a map-side PARTIAL aggregation
    before the anchor exchange — not a row_number window (which fully
    re-sorts every scored candidate row per anchor)."""
    df = entry.q113_contrastive_pairs(spark, SF_DIR)
    plan = plan_of(df)
    assert "Window" not in plan
    assert "partial_collect_list" in plan


def test_asof_single_shuffle(spark):
    """The as-of join is one union + one window: exactly one exchange
    on the key, no join node at all."""
    df = entry.q46_asof_join(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan  # window-based, joins avoided entirely
    assert plan.count("Arguments: hashpartitioning") == 1


def test_bucketed_join_no_exchange(spark):
    """Two tables bucketed on the join key join with ZERO exchanges —
    the write-time shuffle (write_bucketed, the scale analogue of
    add_index) replaces every query-time shuffle on that key."""
    from preql_spark.engine import Engine
    eng = Engine(spark).load_dir(SF_DIR)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        co = eng.t.customer.write_bucketed("cust_bkt", "c_custkey", 8)
        oo = eng.t.orders.write_bucketed("ord_bkt", "o_custkey", 8)
        j = co.join(oo, on=co.c_custkey == oo.o_custkey)
        plan = plan_of(j.df)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert "Bucketed: true" in plan
        # sanity: same join on the unbucketed inputs DOES shuffle
        j2 = eng.t.customer.join(eng.t.orders,
                                 on=F.col("c_custkey") == F.col("o_custkey"))
        assert "Exchange" in plan_of(j2.df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS cust_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_partitioned_write_prunes(spark, tmp_path):
    """Filters on partition columns prune directories, not rows."""
    from preql_spark.engine import Engine
    eng = Engine(spark).load_dir(SF_DIR)
    path = str(tmp_path / "docs_by_source")
    t = eng.t.documents.write_partitioned(path, "source")
    src = t.df.select("source").limit(1).collect()[0].source
    plan = plan_of(t.filter(F.col("source") == src).df)
    assert "PartitionFilters: [isnotnull(source" in plan \
        or f"PartitionFilters: [isnotnull(source#" in plan \
        or "PartitionFilters" in plan and src in plan


# ---- twin plan equality (the bench's strong claim, gated in CI) ----
# Queries where engine and hand-twin plans legitimately differ, with
# reasons.  Keep this list <= 3; anything new must either be fixed or
# argued here.
PLAN_WAIVERS: dict[str, str] = {}


def _twin_names():
    from bench_twins import TWINS
    return sorted(TWINS)


@pytest.mark.parametrize("name", _twin_names())
def test_twin_plan_equality(spark, name):
    """The engine's generated plan must BE the plan a PySpark user
    would write by hand (the reference's "generated ≈ hand-written"
    claim, checked structurally rather than by wall clock).  Runs in
    CI at sf0.001 so a plan regression is caught before the driver
    bench sees it (VERDICT r2 item 4)."""
    from bench_twins import TWINS, normalized_plan
    if name in PLAN_WAIVERS:
        pytest.skip(f"waived: {PLAN_WAIVERS[name]}")
    eng_df = entry.queries()[name](spark, SF_DIR)
    twin_df = TWINS[name](spark, SF_DIR)
    assert normalized_plan(eng_df) == normalized_plan(twin_df)


def test_write_clustered_file_skipping(eng, tmp_path):
    import glob
    import pyarrow.parquet as pq
    path = str(tmp_path / "clustered")
    eng.t.lineitem.write_clustered(path, "l_orderkey", n_files=8)
    files = glob.glob(path + "/part-*.parquet")
    assert len(files) > 1, "need multiple files to demonstrate skipping"
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("l_orderkey")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min); maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    # range clustering makes per-file key ranges (nearly) disjoint, so
    # a point/range predicate touches one file: check total overlap is
    # tiny relative to the full key span
    ranges.sort()
    overlaps = sum(max(0, a_hi - b_lo)
                   for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]))
    span = ranges[-1][1] - ranges[0][0]
    assert overlaps <= span * 0.05


def test_quantize_normalize_zero_exchange(spark):
    """Vector quantization + normalization must be pure scan-local
    transforms — any Exchange would mean an accidental shuffle."""
    from preql_spark.operators import similarity
    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    out = similarity.normalize_vectors(
        similarity.quantize_int8(e), "embedding", "unit")
    plan = plan_of(out)
    assert "Exchange" not in plan


def test_gopher_gate_zero_exchange(spark):
    """The Gopher composite gate and the C4 cleaner each compute as
    ONE Project — metrics, per-rule booleans, composite keep, and
    the cleaned text all fold over the materialized word/line arrays
    with no data-keyed (hash) exchange and no join.  r14: the gate
    may carry ONE round-robin parallelism lift when file count <
    cores (no-op at real scale and on streaming batch frames)."""
    from preql_spark.operators import text
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = plan_of(text.gopher_quality_gate(d))
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan
    plan = plan_of(text.c4_clean(d))
    assert "Exchange" not in plan


def test_classifier_gate_plan_contract(spark):
    """The classifier gate is ONE Arrow MapInPandas over the scan —
    no shuffle, no row-at-a-time Python (BatchEvalPython), schema =
    input + (score, keep); the q223 funnel composition adds only the
    scan-local rule Projects and ONE aggregation exchange on top."""
    from preql_spark.operators.text import (classifier_gate,
                                            gopher_quality_gate)
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "source", "text")
    import re

    def n_nodes(plan, kind):
        return len(re.findall(rf"\b{kind} \(\d+\)", plan))

    plan = plan_of(classifier_gate(d))
    assert n_nodes(plan, "MapInPandas") == 1
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan
    gated = gopher_quality_gate(d, min_words=40, min_stop_words=1) \
        .select("doc_id", "source", "text",
                F.col("keep").alias("rule_keep"))
    funnel = (classifier_gate(gated, threshold=0.5)
              .groupBy("source")
              .agg(F.count(F.lit(1)).alias("n_raw"),
                   F.sum(F.col("rule_keep").cast("long"))
                   .alias("n_rule_keep")))
    fplan = plan_of(funnel)
    assert n_nodes(fplan, "MapInPandas") == 1
    # exactly ONE data-keyed exchange (the final agg); the rule
    # stage may add its round-robin parallelism lift (r14)
    assert fplan.count("hashpartitioning") == 1, fplan
    assert fplan.count("RoundRobinPartitioning") <= 1, fplan
    assert "BatchEvalPython" not in fplan


def test_composed_gate_plan_contract(spark):
    """The composed funnel gate adds NO plan weight over its
    stages: rules stay scan-local Projects, the classifier stays
    ONE Arrow MapInPandas, the bookkeeping columns introduce no
    shuffle and no extra Python boundary — the registry dispatch
    costs nothing at plan level."""
    import re

    from preql_spark.operators.text import composed_gate
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "source", "text")

    def n_nodes(plan, kind):
        return len(re.findall(rf"\b{kind} \(\d+\)", plan))

    plan = plan_of(composed_gate(
        d, stages=[("gopher", {"min_words": 40}),
                   ("classifier", {"threshold": 0.5})]))
    assert n_nodes(plan, "MapInPandas") == 1
    # no data-keyed exchange, no join; the gopher stage may carry
    # its round-robin parallelism lift (r14)
    assert "hashpartitioning" not in plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan
    assert "BatchEvalPython" not in plan


def test_embed_text_plan_contract(spark):
    """embed_text is ONE Arrow MapInPandas at scan position — no
    shuffle, no row-at-a-time Python; schema = input + embedding, so
    an upstream two-column projection stays a two-column parquet
    read (column pruning reaches the scan through the Arrow
    boundary)."""
    import re

    from preql_spark.operators.text import embed_text
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "text")

    def n_nodes(plan, kind):
        return len(re.findall(rf"\b{kind} \(\d+\)", plan))

    plan = plan_of(embed_text(d, dim=8))
    assert n_nodes(plan, "MapInPandas") == 1
    # no data-keyed exchange; the round-robin parallelism lift (r14)
    # may appear when file count < cores, and column pruning must
    # STILL reach the scan through it
    assert "hashpartitioning" not in plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan
    assert "BatchEvalPython" not in plan
    assert re.search(r"ReadSchema:.*doc_id.*text", plan)
    assert "lang" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_gate_rate_per_batch_plan_equals_hand(spark):
    """The q217 streaming pair's PER-BATCH plan (what each
    foreachBatch epoch actually executes: in-batch id dedup → gate →
    groups-bounded (n_docs, n_keep) agg) equals the hand spelling —
    the bench's plan_match covers the REPORT side; this pins the
    hot per-epoch side.  Both frames are built exactly as the sinks
    build them, on a static batch."""
    from bench_twins import normalized_plan
    from preql_spark.operators.text import GATES
    # the stand-in batch must NOT be file-backed: a real foreachBatch
    # frame reports no input files, so the gate's r14 parallelism
    # lift is a no-op per batch — a raw parquet read here would fire
    # it and diverge from what the sink actually executes
    rows = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
            .select("doc_id", "source", "text").collect())
    d = spark.createDataFrame(rows, "doc_id long, source string, text string")
    gate_fn, _ = GATES["gopher"]
    batch = d.dropDuplicates(["doc_id"])
    eng = (gate_fn(batch.select("doc_id", "source", "text"),
                   id_col="doc_id", text_col="text",
                   min_words=40, min_stop_words=1)
           .groupBy(F.col("source"))
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum(F.col("keep").cast("long")).alias("n_keep")))
    from bench_twins import _hand_gopher_keeped
    hand = (_hand_gopher_keeped(batch).select("source", "keep")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.col("keep").cast("long")).alias("n_keep")))
    assert normalized_plan(eng) == normalized_plan(hand)


def test_real_micro_batch_reports_no_input_files(spark, tmp_path):
    """The contract the per-batch plan tests above stand on, asserted
    against a REAL micro-batch instead of the createDataFrame
    stand-in (r14 ADVICE): a foreachBatch frame from a parquet file
    stream reports ZERO input files on this Spark version, so
    ensure_parallelism (which keys on 0 < n_files < cores) is a
    no-op per batch and the gate's per-epoch plan cannot grow a
    round-robin exchange the pinned hand twin lacks.  If a Spark
    upgrade ever makes file-stream batches report their backing
    files, this fails loudly and the lift needs an explicit
    streaming-frame guard."""
    from preql_spark.operators.text import ensure_parallelism
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    d = spark.range(50).select(
        F.col("id").alias("doc_id"), F.lit("s").alias("source"),
        F.lit("one two three").alias("text"))
    d.write.mode("overwrite").parquet(src)
    seen: dict = {}

    def _probe(batch, batch_id):
        seen["n_files"] = len(batch.inputFiles())
        seen["lift_noop"] = ensure_parallelism(batch) is batch

    q = (spark.readStream.schema(d.schema).parquet(src)
         .writeStream.foreachBatch(_probe)
         .option("checkpointLocation", ck)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert seen == {"n_files": 0, "lift_noop": True}


def test_curation_per_batch_plan_equals_hand(spark):
    """The q218 streaming pair's PER-BATCH store-append plan (what
    each foreachBatch epoch executes on the hot side: in-batch id
    dedup → C4 gate → keep filter → (id, group, cleaned text)
    projection) equals the hand spelling — the bench's plan_match
    covers the REPORT side; this pins the per-epoch side.  Built
    exactly as the sinks build it, on a static batch (the
    localCheckpoint/anti-join stages are protocol, not plan: they
    depend on runtime store state)."""
    from bench_twins import _hand_c4_cleaned, normalized_plan
    from preql_spark.operators.text import GATES
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")) \
        .select("doc_id", "source", "text")
    gate_fn, out_col = GATES["c4"]
    batch = d.dropDuplicates(["doc_id"])
    eng = (gate_fn(batch, id_col="doc_id", text_col="text",
                   min_sentences=2)
           .filter(F.col("keep"))
           .select("doc_id", "source", F.col(out_col).alias("text")))
    hand = (_hand_c4_cleaned(batch, min_sentences=2)
            .filter(F.col("keep"))
            .select("doc_id", "source", F.col("clean").alias("text")))
    assert normalized_plan(eng) == normalized_plan(hand)


def test_repetition_metrics_scan_local(spark):
    """r14: the compute is ONE scan-local Project — zero joins, zero
    data-keyed (hash) exchanges: every metric folds over the
    document's own line/bigram arrays, so the text crosses the wire
    at most once, in the optional round-robin parallelism lift that
    fires only when file count < cores (a no-op at real scale).  The
    pre-r14 spelling shuffled twice by (id, unit-hash)/(id)."""
    from preql_spark.operators import text
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = plan_of(text.repetition_metrics(d))
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("RoundRobinPartitioning") <= 1, plan


def test_minhash_signature_scan_local(spark):
    """r14: the MinHash signature pass is a scan-local two-step
    projection — zero exchanges (the former explode + groupBy(id)
    shuffled corpus-cardinality rows purely to take per-document
    minima), and the base hash is evaluated ONCE (the staged __hs
    column keeps CollapseProject from re-inlining one xxhash64 per
    universal-hash variant)."""
    from preql_spark.operators.dedup import minhash_signature_df
    d = (spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
         .select(F.col("doc_id").alias("__id"),
                 F.split("text", " ").alias("__sh")))
    sig = minhash_signature_df(d, portable=False)
    plan = plan_of(sig)
    assert "Exchange" not in plan, plan
    assert plan.count("xxhash64") == 1, plan


def _under_in_memory_relation(plan: str, needle: str) -> list[bool]:
    """For each line of a tree-string ``plan`` containing ``needle``:
    whether one of its ancestor nodes is an InMemoryRelation (the
    expression is computed while BUILDING a cache, not per scan)."""
    out, stack = [], []   # stack of (indent, line) ancestors
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        indent = len(line) - len(body)
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if needle in body:
            out.append(any("InMemoryRelation" in a for _, a in stack))
        stack.append((indent, body))
    return out


def test_minhash_lsh_signature_computed_in_cache(spark):
    """The MinHash signature is computed inside the shingle cache the
    LSH operator persists: in the executed plan, the xxhash64 base
    hash and the ``array_min(transform(...))`` minima appear only
    under the InMemoryRelation.  Computed above the cache, each side
    of the band self-join would re-run the signature pass (Catalyst
    does not reuse an exchange over a lambda-heavy plan)."""
    from preql_spark.operators.dedup import minhash_lsh_pairs
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    pairs = minhash_lsh_pairs(d, "doc_id", threshold=0.9)
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    for needle in ("xxhash64", "array_min(transform"):
        where = _under_in_memory_relation(plan, needle)
        assert where and all(where), (needle, plan)


def test_connected_components_runs_no_collect(spark, monkeypatch):
    """Convergence is observed inside each round's checkpoint job: the
    operator runs no ``collect`` (no seed label-state action, no
    per-round one)."""
    from preql_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long")

    def no_collect(self):
        raise AssertionError("connected_components ran a collect")

    with monkeypatch.context() as m:
        m.setattr(type(pairs), "collect", no_collect)
        comp = connected_components(pairs)
    assert {(r.node, r.component) for r in comp.collect()} == {
        (1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_connected_components_pair_graph_single_scan(spark, monkeypatch):
    """Both edge directions come from ONE scan of the pairs (a
    two-element struct array exploded per pair): the persisted pair
    graph has no Union, which would run the whole lazy pair plan
    (the LSH pipeline, in q73/q209) twice."""
    from preql_spark.operators.dedup import connected_components
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
    persisted = []
    cls = type(pairs)
    persist = cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return persist(self, *args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(cls, "persist", recording_persist)
        connected_components(pairs)
    assert len(persisted) == 1
    plan = plan_of(persisted[0])
    assert "Union" not in plan, plan


def test_scd2_single_exchange(spark):
    """Both SCD2 window passes partition on the business key — the
    second window must reuse the first's hash partitioning (exactly
    one Exchange in the whole plan)."""
    import re
    df = entry.q104_scd2_history(spark, SF_DIR)
    plan = plan_of(df)
    assert len(set(re.findall(r"\(\d+\) Exchange", plan))) == 1


def test_domain_cap_no_global_sort(spark):
    """Per-domain top-n sorts within partitions only — a global sort
    of the corpus would be a scale killer."""
    df = entry.q103_domain_cap(spark, SF_DIR)
    plan = plan_of(df)
    # window sort is per-partition (global=false); no range partition
    assert "Exchange rangepartitioning" not in plan


def test_kmeans_assignment_no_shuffle(spark):
    """k-means assignment (against driver-held centroids) must be
    scan-local: the assignment frame's plan contains no Exchange."""
    from preql_spark.operators.cluster import kmeans
    emb = entry._eng(spark, SF_DIR).t.embeddings.df
    assigned, _ = kmeans(emb, k=4, iters=1)
    plan = plan_of(assigned)
    # the only exchange allowed is ensure_parallelism's round-robin
    # (small-file-count guard, a no-op at scale)
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


def test_lang_plan_equals_api_plan(spark, eng):
    """The Preql-syntax front-end must emit the IDENTICAL physical
    plan as the fluent API — the lang layer is a parser, not a second
    compiler (the same claim the bench's hand-twin gate makes for the
    API vs raw PySpark)."""
    from bench_twins import normalized_plan
    cases = [
        ('customer[c_acctbal > 5000]{c_custkey, bal2: c_acctbal * 2}',
         lambda: eng.t.customer.filter(F.col("c_acctbal") > 5000)
         .project("c_custkey", bal2=F.col("c_acctbal") * 2)),
        ('nation{n_regionkey => n: count()}',
         lambda: eng.t.nation.group("n_regionkey", n=F.count(F.lit(1)))),
        ('customer order {^c_acctbal, c_custkey} [0..5]',
         lambda: eng.t.customer.order("^c_acctbal", "c_custkey")
         .slice(0, 5)),
    ]
    for src, api in cases:
        assert normalized_plan(eng.q(src).df) == \
            normalized_plan(api().df), src


@pytest.mark.slow
def test_lsh_selective_candidate_count(spark):
    """The q124 selective regime (64 planes, 10-bit bands) must
    generate FAR fewer banded candidates than all-pairs — the scale
    property the permissive q41 instance (2-bit bands) cannot show.
    Measured, not asserted from theory: candidates < 5% of n^2/2."""
    from preql_spark.operators.similarity import hyperplane_signature
    from preql_spark.operators.text import portable_hash
    # rebuild the augmented corpus exactly as q124 does
    e = entry._eng(spark, SF_DIR).t.embeddings.df
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = e.select("vec_id", vd.alias("embedding"))

    def h(i):
        return (portable_hash(F.concat(
            F.lit("perturb:"), F.col("vec_id").cast("string"),
            F.lit(":"), i.cast("string"))) % 2001 - 1000) / 1000.0

    pert = (base.filter(F.col("vec_id") % 40 == 0)
            .select((F.col("vec_id") + 1000000).alias("vec_id"),
                    F.transform(F.col("embedding"),
                                lambda x, i: x + 0.15 * F.abs(x) * h(i))
                    .alias("embedding")))
    aug = base.unionByName(pert)
    n = aug.count()
    n_planes, max_hamming = 64, 5
    bands = max_hamming + 1
    bits_per = n_planes // bands
    sig = aug.select(F.col("vec_id").alias("__id"),
                     hyperplane_signature(F.col("embedding"), 64,
                                          n_planes).alias("__sig"))
    banded = sig.select("__id", F.posexplode(F.array(*[
        F.pmod(F.shiftright("__sig", b * bits_per),
               F.lit(2 ** bits_per)) for b in range(bands)]))
        .alias("__band", "__bkey"))
    a, b = banded.alias("a"), banded.alias("b")
    cands = (a.join(b, (F.col("a.__band") == F.col("b.__band"))
                    & (F.col("a.__bkey") == F.col("b.__bkey"))
                    & (F.col("a.__id") < F.col("b.__id")))
             .select("a.__id", "b.__id").distinct().count())
    assert cands < 0.05 * (n * (n - 1) / 2), (cands, n)
    # and the planted pairs still surface (recall at selectivity)
    found = entry.q124_lsh_selective_neardup(spark, SF_DIR).count()
    assert found > 0


@pytest.mark.slow
def test_lsh_selective_banding_not_cartesian(spark):
    """q124's selective regime keeps the same structural guarantees
    as q41: banded equi-join candidates, no cartesian/BNLJ, vectors
    off the band explode."""
    df = entry.q124_lsh_selective_neardup(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__band" in plan and "__bkey" in plan


def test_enum_auto_switches_on_size_estimate(spark):
    """enum() default: interactive-sized inputs keep the one global
    window; inputs whose Catalyst size estimate exceeds the threshold
    take the distributed range-partition + per-partition-offsets plan
    (no single-partition window exchange)."""
    from preql_spark.engine import Engine
    from preql_spark.table import Table
    eng = Engine(spark).load_dir(SF_DIR)
    small = eng.t.nation.enum(order_by="n_name")
    assert "__pid" not in plan_of(small.df)
    old = Table.ENUM_AUTO_BYTES
    try:
        Table.ENUM_AUTO_BYTES = 1
        big = eng.t.nation.enum(order_by="n_name")
        p = plan_of(big.df)
        assert "__pid" in p and "SinglePartition" not in p
        a = sorted((r["index"], r.n_name) for r in small.df.collect())
        b = sorted((r["index"], r.n_name) for r in big.df.collect())
        assert a == b
    finally:
        Table.ENUM_AUTO_BYTES = old


def test_quantile_rollup_single_shuffle_both_paths(spark):
    """ROLLUP computes every level from ONE exchange (Expand feeds a
    single hash partitioning) — per-level rescans would multiply the
    corpus cost by the level count.  Holds for the exact path and the
    mergeable approx path, and the approx plan keeps a partial_
    aggregation below the exchange (map-side combine of GK state)."""
    import re
    from preql_spark.operators.sketch import quantile_rollup
    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    for approx in (False, True):
        df = quantile_rollup(o, ["o_orderstatus", "o_orderpriority"],
                             "o_totalprice", [0.5, 0.9], approx=approx)
        plan = plan_of(df)
        assert len(set(re.findall(r"\(\d+\) Exchange", plan))) == 1, plan
        assert "Expand" in plan
    assert "partial_percentile_approx" in plan.lower() \
        or "partial" in plan.lower()


def test_budget_select_window_is_bucket_partitioned(spark):
    """budget_select's only window runs over the boundary BUCKET
    (hashpartitioning on __bkt) — never a SinglePartition global
    window over the corpus, which is exactly the scale hazard the
    bucket split exists to avoid."""
    df = entry.q156_budget_select(spark, SF_DIR)
    plan = plan_of(df)
    assert "hashpartitioning(__bkt" in plan
    assert "SinglePartition" not in plan


def test_interleave_single_group_shuffle_plus_range_sort(spark):
    """interleave_sources: row_number and count share ONE group-keyed
    exchange (the two windows reuse the same partitioning), and the
    only other exchange is the final range sort — the cost of any
    total ordering."""
    import re
    df = entry.q157_interleave_sources(spark, SF_DIR)
    plan = plan_of(df)
    assert len(set(re.findall(r"\(\d+\) Exchange", plan))) == 2, plan
    assert plan.count("hashpartitioning(source") == 1
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan


def test_containment_max_doc_freq_prunes_join_input(spark):
    """The hot-shingle cap (q194's max_doc_freq=2) must measurably
    shrink the shingle rows entering the self-equi-join on the very
    slice the driver grades — a shingle in f docs contributes f²
    join rows, so stopword shingles are the quadratic blowup the cap
    exists to stop.  Also assert the pruning is a LeftSemi in the
    plan, not a post-join filter."""
    from preql_spark.operators.dedup import shingles_from_tokens
    from preql_spark.operators.text import tokens
    import __spark_entry__ as E
    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") < 150))
    sh = (docs.select(F.col("doc_id").alias("__id"),
                      tokens("text").alias("__t"))
          .select("__id",
                  F.explode(shingles_from_tokens(F.col("__t"), 3))
                  .alias("__s")))
    total = sh.count()
    keep = sh.groupBy("__s").count() \
        .filter(F.col("count") <= 2).drop("count")
    kept = sh.join(keep, "__s", "left_semi").count()
    assert kept < total, (kept, total)   # hot shingles exist here
    plan = plan_of(E.q194_containment_capped(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_rfm_scale_safe_tile_stage_never_single_partition(spark):
    """rfm_scores above the user threshold (forced with
    windowed_max_users=0) tiles via range repartition + a
    pid-partitioned window — the executed plan must contain NO
    SinglePartition exchange anywhere; the small-input auto path
    keeps the cheaper shared single-sort windows."""
    from preql_spark.operators.events import rfm_scores
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    big = rfm_scores(e, n_tiles=5, windowed_max_users=0)
    plan = plan_of(big)
    # the range exchange lives inside the eager localCheckpoint; the
    # final plan ranks over pid-hashed windows off the frozen RDD
    assert "SinglePartition" not in plan
    assert "__pid" in plan and "hashpartitioning(__pid" in plan
    small = rfm_scores(e, n_tiles=5)
    p = plan_of(small)
    assert "__pid" not in p
    # the size-estimate gate proves small inputs can't reach the user
    # threshold, so auto mode never materializes a decision
    # checkpoint for them (no frozen-RDD scan in the plan)
    assert "ExistingRDD" not in p


def test_rfm_auto_static_gate_boundary(spark):
    """The auto-mode static size shortcut only fires with
    RFM_AUTO_STATIC_MARGIN x headroom below the bound: an estimate
    comfortably under it picks the windowed plan with NO decision
    checkpoint; an estimate within one order of magnitude of the
    bound falls through to the exact counted decision (ExistingRDD =
    the eager decision checkpoint materialized) — here counting 150
    users > windowed_max_users=10, so the tiled plan; and
    auto_bytes_per_row=None disables the shortcut entirely (counted
    decision even for a tiny input)."""
    from preql_spark.operators.events import rfm_scores
    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    est = e._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if not isinstance(est, int):
        est = int(est.toString())
    # comfortably under: bound = 10 * (est * 2) >= est * 20 > est * 10
    # -> static windowed (no checkpoint), even though 150 users > 10
    # (the documented heuristic-wins case: plan choice, not results)
    p = plan_of(rfm_scores(e, n_tiles=5, windowed_max_users=10,
                           auto_bytes_per_row=est * 2))
    assert "__pid" not in p and "ExistingRDD" not in p
    # within 10x of the bound: est <= 10 * (est / 2) = est * 5 (the
    # pre-margin gate WOULD fire) but est * 10 > est * 5 -> fall
    # through to the counted decision; 150 users > 10 -> tiled plan
    p = plan_of(rfm_scores(e, n_tiles=5, windowed_max_users=10,
                           auto_bytes_per_row=est / 2))
    assert "__pid" in p
    # shortcut disabled: counted decision runs (checkpoint in-plan)
    # and the count picks windowed for this small input
    p = plan_of(rfm_scores(e, n_tiles=5, auto_bytes_per_row=None))
    assert "__pid" not in p and "ExistingRDD" in p


def test_funnel_one_user_shuffle_no_window_no_join(spark):
    """The funnel is ONE user-keyed exchange + a global count — never
    the textbook n-way self-join, never a per-user sort window."""
    df = entry.q162_funnel(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "partial" in plan.lower()  # map-side combine on the collect


def test_normalize_text_scan_local(spark):
    """normalize_text is a pure built-in string chain: the q201 plan
    must contain NO exchange, NO join, and NO Python node — one
    codegen'd projection over the parquet scan (the 100 TB contract
    for a per-row preprocessing step)."""
    df = entry.q201_normalize_text(spark, SF_DIR)
    plan = plan_of(df)
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan and "Arrow" not in plan
    assert "codegen id" in plan     # the chain stays in codegen
    # exactly one Project over the scan — the whole operator is one
    # per-row expression
    assert plan.count("Project") >= 1 and "Scan parquet" in plan


def test_leakage_safe_split_label_is_scan_local(spark):
    """leakage_safe_split adds exactly one corpus-side shuffle class
    beyond the already-audited CC loop: the node-keyed join back onto
    the docs.  The split LABEL itself must be a scan-local hash
    expression — no window, no extra exchange after the join."""
    from preql_spark.operators.dedup import leakage_safe_split
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = spark.createDataFrame([(1, 2), (3, 4)],
                                  "id_a: long, id_b: long")
    out = leakage_safe_split(docs, pairs,
                             {"train": 0.9, "test": 0.1})
    plan = plan_of(out)
    assert "Window" not in plan     # never a sort/rank stage
    assert "md5" in plan            # the portable hash rule, in-plan
    # one left join back onto the corpus and nothing downstream of
    # it but the label projection (no post-join exchange/agg).  The
    # component side is checkpoint-backed (unknown stats), so the
    # join strategy is AQE's call — the contract is the SHAPE, not
    # the strategy: no aggregation anywhere in the label path
    assert "HashAggregate" not in plan.split("Join")[-1]


def test_z_outliers_one_scan_histogram_bound(spark):
    """z_outliers is one (group, value) partial agg over the corpus;
    the moments ride unordered window sums over the bounded
    histogram — the plan must read the corpus ONCE (no self-join,
    no second scan), carry map-side partials, and hold no Python
    node.  The only sort is the window's partition-clustering sort
    of the tiny histogram, never the corpus."""
    from preql_spark.operators.events import z_outliers
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .withColumn("vv", F.length("text"))
    plan = plan_of(z_outliers(docs, "source", "vv", k=2.0))
    # ONE scan node = two "Scan parquet" strings in formatted
    # explain (tree line + detail header)
    assert plan.count("Scan parquet") == 2   # corpus read once
    assert "Join" not in plan
    assert "Python" not in plan and "Arrow" not in plan
    assert "partial" in plan.lower()   # map-side combine on the agg


def test_winsorize_rows_never_shuffle(spark):
    """The percentile bounds broadcast back onto the rows: the row
    side must see no hash exchange and no sort-merge join."""
    df = entry.q165_winsorize(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only hash exchange feeds the (tiny) bounds aggregation
    assert plan.count("Arguments: hashpartitioning") == 1


def test_transition_counts_one_window_one_agg(spark):
    """Lead window (user-keyed) + pair-keyed agg — two exchanges
    total, no self-join."""
    df = entry.q164_transition_counts(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan
    assert plan.count("Arguments: hashpartitioning") == 2


def test_fuzzy_pairs_no_cartesian(spark):
    """ED-Join blocking keeps both legs as equi-joins: no cartesian
    product, no broadcast nested loop anywhere in the plan."""
    df = entry.q167_fuzzy_pairs(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ewma_single_group_shuffle(spark):
    """EWMA is one group-keyed exchange with a map-side partial
    collect; the fold itself is a scan-local HOF."""
    df = entry.q166_ewma(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1


def test_trend_single_partial_agg(spark):
    """OLS trend folds to five moments map-side: one group-keyed
    exchange, no join, no window."""
    df = entry.q172_value_trend(spark, SF_DIR)
    plan = plan_of(df)
    assert "Join" not in plan and "Window" not in plan
    assert plan.count("Arguments: hashpartitioning") == 1
    assert "partial" in plan.lower()


def test_mad_outliers_rows_never_shuffle(spark):
    """Both MAD rounds broadcast their bounds back: the event rows
    see only BroadcastHashJoins, never a sort-merge join."""
    df = entry.q173_mad_outliers(spark, SF_DIR)
    plan = plan_of(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_no_cartesian_no_bnl(spark):
    """Every PageRank iteration is an equi-join + keyed agg — no
    cartesian product, no broadcast nested loop."""
    df = entry.q171_pagerank(spark, SF_DIR)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_paths_one_event_shuffle_takeordered(spark):
    """Events exchange ONCE (the window's user hash); the
    per-session path aggregation reuses that layout, only the tiny
    path-count table shuffles again, and the top-k is a
    TakeOrdered, never a global sort."""
    df = entry.q176_session_paths(spark, SF_DIR)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Arguments: hashpartitioning(user_id") == 1
    assert plan.count("Arguments: hashpartitioning") == 2
    assert "Join" not in plan


def test_cached_copartition_survives_join_checkpoint_does_not(spark):
    """r15 mechanism pin for the iterative graph/dedup loops
    (pagerank e_deg, hits e/e_byd, shortest_paths e,
    connected_components sym): a repartition(k, key) behind
    ``persist`` keeps hashpartitioning(key, k) visible through
    InMemoryTableScan, so per-round joins on that key do NOT
    re-shuffle the big cached side; behind ``localCheckpoint`` the
    LogicalRDD drops the partitioning and every round re-shuffles
    it (measured at sf0.01, broadcast off: ~2x total shuffle bytes
    across all four operators).  This test pins the mechanism in
    isolation so a Spark upgrade that breaks it fails loudly."""
    from pyspark import StorageLevel

    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11) for i in range(60)], "src int, dst int")
    ranks = spark.createDataFrame(
        [(i, i * 10) for i in range(11)], "node int, r long")
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_abc = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        def edge_side_exchanges(e) -> int:
            # count Exchange nodes in the join's EDGE branch (the
            # ranks branch always re-shuffles; the cached plan's own
            # build exchange is inside InMemoryRelation, below the
            # scan, and does not run per consumer)
            j = e.join(ranks, e["src"] == ranks["node"]).select("dst", "r")
            tree = plan_of(j).split("\n\n")[0]
            edge_branch = []
            for line in tree.splitlines():
                if "InMemoryTableScan" in line or "Scan ExistingRDD" in line:
                    break
                edge_branch.append(line)
            return sum("Exchange" in line for line in edge_branch)

        cached = (edges.repartition(nshuf, "src")
                  .persist(StorageLevel.MEMORY_AND_DISK))
        cached.count()          # materialize -> partitioning advertised
        try:
            assert edge_side_exchanges(cached) == 0
        finally:
            cached.unpersist()

        ckpt = (edges.repartition(nshuf, "src")
                .localCheckpoint(eager=True))
        assert edge_side_exchanges(ckpt) == 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        if old_abc is None:
            spark.conf.unset(
                "spark.sql.adaptive.autoBroadcastJoinThreshold")
        else:
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", old_abc)


def test_iterative_loops_persist_edge_frames(spark):
    """The four loop operators keep their reused big frame in a
    serialized cache (InMemoryRelation), not a localCheckpoint —
    the spelling the co-partitioning mechanism above relies on."""
    from preql_spark.operators.dedup import connected_components
    from preql_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11, 1 + i % 3) for i in range(60)],
        "src int, dst int, w int")
    plan = plan_of(pagerank(edges, iters=2, weight_col="w"))
    assert "InMemoryRelation" in plan

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)], "id_a long, id_b long")
    comp = connected_components(pairs)
    # the convergence loop ran at construction; the pair cache is
    # unpersisted before return (operator owns the terminal action),
    # and the returned labels are an eager checkpoint independent of
    # it — counting after unpersist must still work
    assert comp.count() == 40
