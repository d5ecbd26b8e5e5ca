"""Streaming windows (availableNow micro-batch) + mutable-table DML."""

import os
from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from preql_spark import streaming as ps_stream
from preql_spark.sources import MutableTable
from tests.conftest import SF_DIR


@pytest.fixture()
def events_path():
    return os.path.join(SF_DIR, "events.parquet")


def test_tumbling_stream_matches_batch(spark, eng, events_path):
    stream = ps_stream.read_event_stream(spark, events_path, watermark="2 hours")
    agg = ps_stream.tumbling_agg(stream, "1 hour", keys=["event_type"],
                                 n=F.count(F.lit(1)))
    out = ps_stream.run_to_memory(agg, "t_tumble")
    batch = (eng.t.events.df
             .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
             .agg(F.count(F.lit(1)).alias("n")))
    got = {(r.window_start, r.event_type): r.n for r in out.collect()}
    want = {(r.window_start, r.event_type): r.n for r in batch.collect()}
    assert got == want


def test_session_window_stream(spark, eng, events_path):
    stream = ps_stream.read_event_stream(spark, events_path, watermark="1 day")
    agg = ps_stream.session_agg(stream, "30 minutes", keys=["user_id"],
                                n=F.count(F.lit(1)))
    out = ps_stream.run_to_memory(agg, "t_session")
    # session counts must total the event count and match the batch
    # sessionization count per user
    total = sum(r.n for r in out.collect())
    assert total == eng.t.events.count()


def test_sliding_window_stream(spark, events_path):
    stream = ps_stream.read_event_stream(spark, events_path, watermark="2 hours")
    agg = ps_stream.sliding_agg(stream, "2 hours", "1 hour",
                                n=F.count(F.lit(1)))
    out = ps_stream.run_to_memory(agg, "t_slide")
    rows = out.collect()
    assert len(rows) > 0
    # every event lands in exactly 2 sliding windows
    total = sum(r.n for r in rows)
    static_count = stream.sparkSession.read.parquet(events_path).count()
    assert total == 2 * static_count


def test_stateful_counter(spark, eng, events_path):
    from preql_spark.streaming.stream import stateful_counter
    stream = ps_stream.read_event_stream(spark, events_path, watermark="1 day")
    out = stateful_counter(stream)
    got = ps_stream.run_to_memory(out, "t_stateful", output_mode="update")
    # final per-key counts must equal the batch group-by
    batch = {r.user_id: r.n for r in
             eng.t.events.df.groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n")).collect()}
    rows = {r.key: r.n_events for r in got.collect()}
    assert rows == batch


def test_mutable_table_crud(spark, tmp_path):
    t = MutableTable.create(spark, "points", str(tmp_path),
                            "x long, y long")
    # new: single insert returns row with generated id
    r1 = t.new(x=1, y=1)
    r2 = t.new(x=3, y=3)
    assert (r1.id, r2.id) == (1, 2)
    # bulk insert
    t.insert_rows([{"x": 3, "y": 4}, {"x": 5, "y": 6}])
    assert t.df().count() == 4
    ids = sorted(r.id for r in t.df().collect())
    assert ids == [1, 2, 3, 4]
    # update with condition (reference: t[x==3] update {y: y+13})
    n = t.update(F.col("x") == 3, y=F.col("y") + 13)
    assert n == 2
    got = {(r.x, r.y) for r in t.df().collect()}
    assert got == {(1, 1), (3, 16), (3, 17), (5, 6)}
    # delete
    n = t.delete(F.col("x") == 3)
    assert n == 2
    assert t.df().count() == 2
    # ids keep increasing after delete
    r = t.new(x=9, y=9)
    assert r.id == 5


def test_insert_from_alignment(spark, eng, tmp_path):
    t = MutableTable.create(spark, "nations_copy", str(tmp_path),
                            "n_name string, n_regionkey int")
    src = eng.t.nation.df.select("n_name", "n_regionkey", "n_nationkey")
    t.insert_from(src)  # extra column ignored, order aligned
    assert t.df().count() == 25
    assert set(t.df().columns) == {"id", "n_name", "n_regionkey"}


def test_ctas_from_expr(spark, eng, tmp_path):
    big = eng.t.customer.filter(F.col("c_acctbal") > 9000).df
    t = MutableTable.from_expr(spark, "rich", str(tmp_path), big, const=True)
    assert t.df().count() == big.count()
    t2 = MutableTable.from_expr(
        spark, "rich2", str(tmp_path),
        big.select("c_name"), const=False)
    assert "id" in t2.df().columns


def test_transaction_commit_and_rollback(spark, tmp_path):
    from preql_spark.sources.mutable import MutableTable, transaction
    t = MutableTable.create(spark, "txn_t", str(tmp_path),
                            "x: long, note: string")
    t.insert_rows([{"x": 1, "note": "a"}, {"x": 2, "note": "b"}])

    # commit path: both mutations persist
    with transaction(t):
        t.update(F.col("x") == 1, note=F.lit("a2"))
        t.insert_rows([{"x": 3, "note": "c"}])
    notes = {r.x: r.note for r in t.df().collect()}
    assert notes == {1: "a2", 2: "b", 3: "c"}

    # rollback path: the failed block leaves no trace
    try:
        with transaction(t):
            t.delete(F.col("x") >= 0)
            assert t.df().count() == 0
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    notes = {r.x: r.note for r in t.df().collect()}
    assert notes == {1: "a2", 2: "b", 3: "c"}

    # a nested block's exit leaves the table pinned by the enclosing
    # one, so retention keeps the version the outer rollback restores
    with pytest.raises(RuntimeError):
        with transaction(t):
            with transaction(t):
                for _ in range(5):
                    t.update(F.col("x") == 2, note=F.lit("b2"))
            raise RuntimeError("outer abort")
    notes = {r.x: r.note for r in t.df().collect()}
    assert notes == {1: "a2", 2: "b", 3: "c"}


def test_stream_dedup(spark, tmp_path):
    # write a parquet dir with duplicated event ids, stream it back
    # through stream_dedup, and expect exactly one row per id
    src = spark.createDataFrame(
        [(i % 5, "2024-01-01 00:%02d:00" % (i % 5)) for i in range(20)],
        "event_id: long, ts_s: string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    path = str(tmp_path / "dups")
    src.write.parquet(path)
    stream = ps_stream.read_event_stream(spark, path, watermark="10 minutes")
    out = ps_stream.run_to_memory(
        ps_stream.stream_dedup(stream, ["event_id"]), "t_dedup",
        output_mode="append")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [0, 1, 2, 3, 4]


def test_merge_upsert(spark, tmp_path):
    t = MutableTable.create(spark, "m1", str(tmp_path),
                            "k: long, val: string, extra: long")
    t.insert_rows([{"k": 1, "val": "a", "extra": 10},
                   {"k": 2, "val": "b", "extra": 20}])
    src = spark.createDataFrame(
        [(2, "B"), (3, "c")], "k: long, val: string")
    with _no_count():                  # counted on the write
        stats = t.merge(src, on="k")
    assert stats == {"updated": 1, "inserted": 1}
    rows = {r.k: (r.val, r.extra) for r in t.df().collect()}
    # matched row: val updated, untouched column preserved
    assert rows[1] == ("a", 10)
    assert rows[2] == ("B", 20)
    # inserted row: missing column is NULL, id generated
    assert rows[3] == ("c", None)
    ids = [r[t.id_col] for r in t.df().collect()]
    assert len(set(ids)) == 3
    # merge is idempotent for identical src
    with _no_count():
        stats2 = t.merge(src, on="k")
    assert stats2["inserted"] == 0 and stats2["updated"] == 2
    assert {r.k: (r.val, r.extra) for r in t.df().collect()} == {
        1: ("a", 10), 2: ("B", 20), 3: ("c", None)}


def test_stream_stream_join(spark, eng, events_path):
    # two independent streams over the same events; join each login-ish
    # event to same-user events within 5 minutes; compare to the
    # identical batch join
    l = ps_stream.read_event_stream(spark, events_path, watermark="1 hour") \
        .select("user_id", "event_id", "ts")
    r = ps_stream.read_event_stream(spark, events_path, watermark="1 hour") \
        .select("user_id", F.col("event_id").alias("r_event_id"), "ts")
    joined = ps_stream.stream_join(l, r, ["user_id"], within="5 minutes")
    out = ps_stream.run_to_memory(joined, "t_ssjoin", output_mode="append")
    n_stream = out.count()
    b = eng.t.events.df
    lb = b.select("user_id", "event_id", "ts")
    rb = b.select(F.col("user_id").alias("u2"),
                  F.col("event_id").alias("r_event_id"),
                  F.col("ts").alias("ts2"))
    n_batch = lb.join(
        rb, (lb.user_id == rb.u2)
        & (rb.ts2 >= lb.ts - F.expr("INTERVAL 5 MINUTES"))
        & (rb.ts2 <= lb.ts + F.expr("INTERVAL 5 MINUTES"))).count()
    assert n_stream == n_batch and n_stream > 0


def test_stream_to_parquet_sink(spark, tmp_path, events_path):
    out_path = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = ps_stream.read_event_stream(spark, events_path,
                                         watermark="1 day")
    q = ps_stream.stream_to_parquet(
        stream.select("event_id", "user_id"), out_path, ckpt)
    q.awaitTermination()
    written = spark.read.parquet(out_path)
    n_src = spark.read.parquet(events_path).count()
    assert written.count() == n_src
    # checkpointed restart is a no-op (exactly-once, no duplicates)
    q2 = ps_stream.stream_to_parquet(
        ps_stream.read_event_stream(spark, events_path, watermark="1 day")
        .select("event_id", "user_id"), out_path, ckpt)
    q2.awaitTermination()
    assert spark.read.parquet(out_path).count() == n_src


def test_incremental_rollup(spark, tmp_path):
    src = str(tmp_path / "src")
    dest = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt_roll")
    batch1 = spark.createDataFrame(
        [(i, "2024-01-01 0%d:1%d:00" % (h, i % 6), "t%d" % (i % 2))
         for h in range(3) for i in range(6)],
        "event_id: long, ts_s: string, event_type: string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    batch1.write.parquet(src)
    r1 = ps_stream.incremental_rollup(
        spark, src, dest, ckpt, duration="1 hour",
        keys=["event_type"], n=F.count(F.lit(1)))
    n1 = r1.count()
    assert n1 > 0
    # windows before the final hour are closed and materialized once
    got = {(r.window_start, r.event_type): r.n for r in r1.collect()}
    # re-run with NO new files: rollup unchanged (exactly-once)
    r2 = ps_stream.incremental_rollup(
        spark, src, dest, ckpt, duration="1 hour",
        keys=["event_type"], n=F.count(F.lit(1)))
    assert {(r.window_start, r.event_type): r.n
            for r in r2.collect()} == got
    # append a later batch: only the delta is processed, closing the
    # previously-pending window
    batch2 = spark.createDataFrame(
        [(100, "2024-01-01 05:00:00", "t0")],
        "event_id: long, ts_s: string, event_type: string").selectExpr(
            "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "event_type")
    batch2.write.mode("append").parquet(src)
    r3 = ps_stream.incremental_rollup(
        spark, src, dest, ckpt, duration="1 hour",
        keys=["event_type"], n=F.count(F.lit(1)))
    got3 = {(r.window_start, r.event_type): r.n for r in r3.collect()}
    assert len(got3) > len(got)            # pending windows closed
    assert all(got3[k] == v for k, v in got.items())  # old rows immutable


def test_delete_null_predicate_keeps_rows(spark, tmp_path):
    """SQL DELETE removes only rows where the condition is TRUE; rows
    where it evaluates NULL must survive (a bare ~cond would drop
    them: NULL negated is NULL)."""
    t = MutableTable.create(spark, "dn", str(tmp_path), "v long")
    t.insert_rows([{"v": 1}, {"v": None}, {"v": 3}])
    n = t.delete(F.col("v") == 1)
    assert n == 1
    left = sorted((r.v if r.v is not None else -99) for r in t.df().collect())
    assert left == [-99, 3]          # the NULL row is kept
    assert t.delete(F.col("v") == 3) == 1
    assert t.df().count() == 1
    # UPDATE likewise touches (and counts) only TRUE rows; both counts
    # ride on the version write, so no count() runs
    u = MutableTable.create(spark, "un", str(tmp_path), "v long, w long")
    u.insert_rows([{"v": 1, "w": 0}, {"v": None, "w": 0}, {"v": 3, "w": 0}])
    with _no_count():
        assert u.update(F.col("v") == 3, w=F.lit(9)) == 1
        assert u.update(F.col("v") > 5, w=F.lit(7)) == 0
        assert u.delete(F.col("v") == 1) == 1
    assert sorted(((r.v if r.v is not None else -99), r.w)
                  for r in u.df().collect()) == [(-99, 0), (3, 9)]


@contextmanager
def _no_count():
    """Classic ``DataFrame.count`` raises inside the block."""
    from pyspark.sql.classic.dataframe import DataFrame

    def no_count(self):
        raise AssertionError("ran a count job")

    real = DataFrame.count
    DataFrame.count = no_count
    try:
        yield
    finally:
        DataFrame.count = real


def test_update_delete_counts_ride_on_the_write(spark, tmp_path):
    """``update``/``delete`` return today's counts (NULL predicates
    count nothing) from an Observation on the version write, with no
    count job; a delete predicate the optimizer folds to TRUE still
    counts every row."""
    t = MutableTable.create(spark, "uc", str(tmp_path), "k long, v long")
    rows = [{"k": (None if i == 7 else i), "v": i} for i in range(40)]
    t.insert_rows(rows)
    ks = [r["k"] for r in rows]
    with _no_count():
        n_u = t.update(F.col("k") % 3 == 0, v=F.col("v") + 100)
        n_d = t.delete(F.col("k") % 4 == 1)
    assert n_u == sum(1 for k in ks if k is not None and k % 3 == 0)
    assert n_d == sum(1 for k in ks if k is not None and k % 4 == 1)
    got = {(r.k, r.v) for r in t.df().collect()}
    assert got == {(k, i + (100 if k is not None and k % 3 == 0 else 0))
                   for i, k in enumerate(ks)
                   if k is None or k % 4 != 1}
    t.update(F.col("k") == 0, v=F.lit(0))
    t.delete(F.col("k") == 0)
    left = len(got) - 1
    assert t.delete(F.lit(1) == 1) == left
    assert t.df().collect() == []


def test_insert_rows_local_batch_starts_no_job(spark, tmp_path,
                                               spark_jobs):
    """The ``insert_rows`` batch is a LocalRelation: on the append path
    the statement starts no Spark job, its returned Rows equal what
    ``createDataFrame(list, schema)`` collects, and a wrong-typed value
    raises Spark's own ``PySparkTypeError``."""
    import datetime
    from pyspark.errors import PySparkTypeError
    from pyspark.sql import types as T
    ddl = ("a long, b int, c double, d float, s string, f boolean, "
           "dt date")
    t = MutableTable.create(spark, "ir", str(tmp_path), ddl)
    t.insert_rows([{"a": 0}])          # copy-on-write: opens v1
    batch = [dict(a=1, b=2, c=0.1, d=0.1, s="x", f=True,
                  dt=datetime.date(2020, 1, 2)),
             dict(a=None, b=None, c=None, d=None, s=None, f=None,
                  dt=None),
             dict(a=-5, b=7, c=1e300, d=3.5, s="ü", f=False,
                  dt=datetime.date(1999, 12, 31))]
    with spark_jobs() as jobs:
        out = t.insert_rows(batch)
    assert jobs.n == 0
    schema = T.StructType([T.StructField("id", T.LongType(), False)]
                          + list(T.StructType.fromDDL(ddl).fields))
    want = spark.createDataFrame(
        [(2 + i, *r.values()) for i, r in enumerate(batch)],
        schema).collect()
    assert out == want and [r.asDict() for r in out] \
        == [r.asDict() for r in want]
    assert sorted(t.df().collect(), key=lambda r: r.id)[1:] == want
    with pytest.raises(PySparkTypeError):
        t.insert_rows([{"a": 1, "b": "two"}])
    assert t.df().count() == 4


def test_insert_rows_append_type_grid(spark, tmp_path, spark_jobs):
    """The ``insert_rows`` append path writes the verified Arrow batch
    itself, for every column type: 19 types, a value row and a NULL
    row.  The statement starts no job; the returned Rows, the read-back
    rows, and the rows read back after a rolled-back transaction (the
    schema then comes from a footer) all equal what
    ``createDataFrame(list, schema)`` collects."""
    import datetime
    import decimal
    from pyspark.errors import PySparkTypeError
    from pyspark.sql import types as T
    from preql_spark.sources.mutable import transaction
    ddl = ("a long, b int, c short, d byte, e double, f float, "
           "s string, g boolean, dt date, ts timestamp, "
           "tn timestamp_ntz, m1 decimal(10,2), m2 decimal(38,6), "
           "arr array<long>, st struct<p: int, q: string>, "
           "mp map<string, long>, bin binary, "
           "iv interval day to second, vr variant")
    var = spark.sql("""SELECT parse_json('{"k": [1, 2.5, "x"]}') v""") \
        .collect()[0].v
    row = dict(a=1, b=2, c=3, d=4, e=0.1, f=0.5, s="ü", g=True,
               dt=datetime.date(2020, 1, 2),
               ts=datetime.datetime(2021, 3, 4, 5, 6, 7, 123456),
               tn=datetime.datetime(2021, 3, 4, 5, 6, 7, 8),
               m1=decimal.Decimal("12.34"),
               m2=decimal.Decimal("-1.000001"), arr=[1, None, 3],
               st={"p": 1, "q": None}, mp={"x": 1, "y": None},
               bin=bytearray(b"\x00\x01"),
               iv=datetime.timedelta(days=1, microseconds=5), vr=var)
    batch = [row, dict.fromkeys(row)]
    t = MutableTable.create(spark, "tg", str(tmp_path), ddl)
    t.insert_rows([{"a": 0}])          # copy-on-write: opens v1
    with spark_jobs() as jobs:
        out = t.insert_rows(batch)
    assert jobs.n == 0
    schema = T.StructType([T.StructField("id", T.LongType(), False)]
                          + list(T.StructType.fromDDL(ddl).fields))
    want = spark.createDataFrame(
        [(2 + i, *r.values()) for i, r in enumerate(batch)],
        schema).collect()

    def norm(rows):                    # VariantVal has no __eq__
        return [tuple(str(v) if isinstance(v, T.VariantVal) else v
                      for v in r) for r in rows]

    def back():
        return norm(sorted(t.df().collect(), key=lambda r: r.id)[1:])
    assert norm(out) == norm(want)
    assert back() == norm(want)
    with pytest.raises(RuntimeError):
        with transaction(t):
            t.update(F.col("a") == 0, b=F.lit(9))
            raise RuntimeError("abort")
    assert [f.dataType for f in t.df().schema.fields] \
        == [f.dataType for f in schema.fields]
    assert back() == norm(want)
    with pytest.raises(PySparkTypeError):
        t.insert_rows([{"a": 1, "b": "two"}])
    assert t.df().count() == 3


def test_insert_after_delete_keeps_watermark(spark, tmp_path, spark_jobs,
                                             monkeypatch):
    """``delete`` observes the kept rows' max id with its count, so an
    insert after deleting the max-id row runs no ``max(id)`` aggregate
    and its ids continue at max(kept) + 1; after deleting every row
    they restart at 1."""
    from pyspark.sql.classic.dataframe import DataFrame
    t = MutableTable.create(spark, "wm", str(tmp_path), "k long")
    t.insert_rows([{"k": i} for i in range(5)])        # ids 1..5
    t.insert_rows([{"k": 5}])                          # id 6, appended

    def no_agg(self, *a, **kw):
        raise AssertionError("ran an aggregate")

    monkeypatch.setattr(DataFrame, "agg", no_agg)
    assert t.delete(F.col("k") >= 4) == 2              # ids 5, 6 go
    with spark_jobs() as jobs:
        assert [r.id for r in t.insert_rows([{"k": 7}])] == [5]
    assert jobs.n == 0
    assert t.delete(F.col("k") == 7) == 1
    t.insert_from(spark.createDataFrame([(8,), (9,)], "k long"))
    got = {r.id: r.k for r in t.df().collect()}
    assert sorted(got) == [1, 2, 3, 4, 5, 6]
    assert {got[5], got[6]} == {8, 9}
    assert t.delete(F.col("k") >= 0) == 6
    assert t.new(k=1).id == 1


def test_df_after_write_reads_no_footer(spark, tmp_path, spark_jobs):
    """``df()`` reads each new version with the schema it already
    inferred (no footer job), follows a widening ``insert_from`` and
    goes back with a ``transaction`` rollback."""
    from pyspark.sql import types as T
    from preql_spark.sources.mutable import transaction
    t = MutableTable.create(spark, "sc", str(tmp_path), "v int")
    t.insert_rows([{"v": 1}, {"v": 2}])
    t.update(F.col("v") == 2, v=F.lit(5))
    with spark_jobs() as jobs:
        d = t.df()
    assert jobs.n == 0
    assert sorted(r.v for r in d.collect()) == [1, 5]
    t.insert_from(spark.createDataFrame([(2 ** 40,)], "v long"))
    assert t.df().schema["v"].dataType == T.LongType()
    assert sorted(r.v for r in t.df().collect()) == [1, 5, 2 ** 40]
    with pytest.raises(RuntimeError):
        with transaction(t):
            t.insert_from(spark.createDataFrame([(1.5,)], "v double"))
            assert t.df().schema["v"].dataType == T.DoubleType()
            raise RuntimeError("abort")
    assert t.df().schema["v"].dataType == T.LongType()
    assert sorted(r.v for r in t.df().collect()) == [1, 5, 2 ** 40]


def test_merge_duplicate_source_raises(spark, tmp_path):
    t = MutableTable.create(spark, "md", str(tmp_path), "k long, val string")
    t.insert_rows([{"k": 1, "val": "a"}])
    src = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k: long, val: string")
    import pytest as _pt
    with _pt.raises(ValueError, match="multiple rows"):
        t.merge(src, on="k")
    # table unchanged after the failed merge
    assert [(r.k, r.val) for r in t.df().collect()] == [(1, "a")]


def test_insert_from_distributed_ids(spark, eng, tmp_path):
    """Large-batch id assignment must not funnel through one
    partition: the plan has per-partition windows (partitioned by
    __pid), never a global empty-key window."""
    t = MutableTable.create(spark, "big", str(tmp_path),
                            "o_orderkey long, o_totalprice double")
    src = eng.t.orders.df.select("o_orderkey", "o_totalprice") \
        .repartition(8)
    from preql_spark.sources.mutable import _assign_ids
    batch = _assign_ids(src, "id", base=0)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    t.insert_from(src)
    got = t.df()
    n = got.count()
    assert n == src.count()
    ids = got.agg(F.min("id").alias("lo"), F.max("id").alias("hi"),
                  F.count_distinct("id").alias("u")).collect()[0]
    assert (ids.lo, ids.hi, ids.u) == (1, n, n)   # dense + unique


def test_incremental_dedup_ingest(spark, eng, tmp_path):
    """foreachBatch ingest: within-batch dedup, dedup against the
    growing store, idempotent re-runs."""
    from preql_spark.streaming.stream import incremental_dedup_ingest
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    docs = eng.t.documents.df.select("doc_id", "text")
    # wave 1: docs 0-49 plus an in-wave duplicate of doc 0's text
    wave1 = docs.filter(F.col("doc_id") < 50).unionByName(
        docs.filter(F.col("doc_id") == 0)
        .select((F.col("doc_id") + 90000).alias("doc_id"), "text"))
    wave1.write.mode("overwrite").parquet(src)
    out1 = incremental_dedup_ingest(spark, src, store, ck)
    assert out1.count() == 50                      # in-wave dup dropped
    assert out1.filter(F.col("doc_id") >= 90000).count() == 0

    # wave 2: docs 40-79 — 10 overlap the store by content
    docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)) \
        .write.mode("append").parquet(src)
    out2 = incremental_dedup_ingest(spark, src, store, ck)
    assert out2.count() == 80                      # only 30 new landed

    # re-run with nothing new: checkpoint sees no files, store unchanged
    out3 = incremental_dedup_ingest(spark, src, store, ck)
    assert out3.count() == 80


def test_incremental_neardup_ingest_equals_batch(spark, eng, tmp_path):
    """Two-wave NEAR-dup ingest (MinHash-band state store) must equal
    the one-shot batch rule: drop id_b of every verified near-dup
    pair (exact Jaccard >= threshold) over the full corpus."""
    from preql_spark.operators.dedup import minhash_lsh_pairs
    from preql_spark.streaming.stream import incremental_neardup_ingest
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    docs = eng.t.documents.df.select("doc_id", "text")
    docs.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_neardup_ingest(spark, src, store, ck, threshold=0.9)
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_neardup_ingest(spark, src, store, ck, threshold=0.9)

    pairs = minhash_lsh_pairs(docs, "doc_id", threshold=0.9)
    dropped = {r.id_b for r in pairs.select("id_b").distinct().collect()}
    batch_keep = {r.doc_id for r in docs.select("doc_id").collect()} - dropped
    stream_keep = {r.doc_id for r in out.select("doc_id").collect()}
    assert stream_keep == batch_keep
    assert len(dropped) > 0          # the corpus must exercise the rule

    # idempotence: replay with nothing new changes nothing
    out2 = incremental_neardup_ingest(spark, src, store, ck, threshold=0.9)
    assert out2.count() == out.count()


def test_incremental_neardup_out_of_order_first_seen_wins(spark, eng,
                                                          tmp_path):
    """A new doc with a LOWER id than a stored near-duplicate is still
    rejected (state witnesses apply regardless of id order), and a
    NULL-text doc is stored once and remembered in the state."""
    from preql_spark.streaming.stream import incremental_neardup_ingest
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows1 = [(500, base), (600, "completely unrelated text about spark "
                                "partitions and shuffles at scale"),
             (700, None)]
    rows2 = [(100, base),                       # lower id, near-dup of 500
             (101, "another unrelated document entirely about parquet")]
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .write.mode("overwrite").parquet(src)
    incremental_neardup_ingest(spark, src, store, ck, threshold=0.9)
    spark.createDataFrame(rows2, "doc_id long, text string") \
        .write.mode("append").parquet(src)
    out = incremental_neardup_ingest(spark, src, store, ck, threshold=0.9)
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    # 100 rejected by first-seen witness 500; NULL-text 700 kept once
    assert kept == [101, 500, 600, 700]
    state = spark.read.parquet(store.rstrip("/") + "_state")
    assert state.filter(F.col("doc_id") == 700).count() == 1


def test_incremental_neardup_store_guard_after_lost_state(spark, eng,
                                                          tmp_path):
    """Crash-window replay safety: if the batch replays when the store
    write landed but the state write did not (state lost), survivors
    are not appended twice."""
    import shutil

    from preql_spark.streaming.stream import incremental_neardup_ingest
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    docs = eng.t.documents.df.select("doc_id", "text") \
        .filter(F.col("doc_id") < 100)
    docs.write.mode("overwrite").parquet(src)
    out1 = incremental_neardup_ingest(spark, src, store,
                                      str(tmp_path / "ck1"))
    n1 = out1.count()
    # simulate the torn write: store persisted, state lost
    shutil.rmtree(store.rstrip("/") + "_state")
    out2 = incremental_neardup_ingest(spark, src, store,
                                      str(tmp_path / "ck2"))
    assert out2.count() == n1
    assert out2.select("doc_id").distinct().count() == n1


def test_incremental_neardup_rejects_mode_mismatch(spark, tmp_path):
    """A state whose shingle sets are hashed (``sh: array<bigint>``,
    written by the removed hash mode) must be refused: unionByName
    would coerce array<bigint> to strings and silently accept
    near-dups of earlier waves (cross-wave Jaccard 0).  The error
    names the migration."""
    import pytest as _pt

    from preql_spark.streaming.stream import incremental_neardup_ingest
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta")]
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.mode("overwrite").parquet(src)
    hashed = str(tmp_path / "hashed_state")
    spark.createDataFrame(
        [(1, [11, 12], [101, 102])],
        "doc_id long, bands array<int>, sh array<bigint>") \
        .write.mode("overwrite").parquet(hashed)
    with _pt.raises(ValueError, match="MIGRATION.md"):
        incremental_neardup_ingest(spark, src, store, ck,
                                   state_path=hashed)
    # a string state still replays cleanly (idempotent no-op)
    incremental_neardup_ingest(spark, src, store, ck)
    out = incremental_neardup_ingest(spark, src, store, ck)
    assert out.count() == 1


def test_incremental_postings_ingest_equals_batch(spark, eng, tmp_path):
    """Two-wave incremental index == one-shot postings; a replay with
    nothing new appends nothing (anti-join idempotence)."""
    from preql_spark.operators.text import postings
    from preql_spark.streaming.stream import incremental_postings_ingest
    src = str(tmp_path / "src")
    idx = str(tmp_path / "idx")
    ck = str(tmp_path / "ck")
    docs = eng.t.documents.df.select("doc_id", "text")
    docs.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_postings_ingest(spark, src, idx, ck)
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_postings_ingest(spark, src, idx, ck)
    inc = {(r.term, r.doc_id, tuple(r.positions), r.tf)
           for r in out.collect()}
    one = {(r.term, r.doc_id, tuple(r.positions), r.tf)
           for r in postings(docs).collect()}
    assert inc == one and len(inc) > 0
    out2 = incremental_postings_ingest(spark, src, idx, ck)
    assert out2.count() == out.count()


def test_incremental_frequent_items_equals_batch(spark, eng, tmp_path):
    """Two-wave incremental frequent-items == the one-shot batch
    operator == a plain exact groupBy/HAVING over the full corpus; a
    replay with nothing new leaves the report unchanged (anti-join +
    state-rewrite idempotence); the summary state stays
    capacity-bounded."""
    import math
    from preql_spark.operators.sketch import frequent_items
    from preql_spark.operators.text import tokens
    from preql_spark.streaming.stream import (
        incremental_frequent_items_ingest)
    src = str(tmp_path / "src")
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    docs = eng.t.documents.df.select("doc_id", "text")
    docs.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_frequent_items_ingest(spark, src, store, ck, phi=0.01)
    docs.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_frequent_items_ingest(spark, src, store, ck,
                                            phi=0.01)
    inc = {(r.item, r.cnt) for r in out.collect()}
    one = {(r.item, r.cnt) for r in frequent_items(
        docs.select(F.explode(tokens(F.col("text"))).alias("item"))
            .filter(F.col("item") != ""), "item", phi=0.01).collect()}
    assert inc == one and len(inc) > 0
    # the exact-recount contract: equals plain GROUP BY ... HAVING
    items = (docs.select(F.explode(tokens(F.col("text"))).alias("item"))
             .filter(F.col("item") != ""))
    n = items.count()
    t = int(math.ceil(0.01 * n))
    plain = {(r.item, r.cnt) for r in
             items.groupBy("item").agg(F.count(F.lit(1)).alias("cnt"))
                  .filter(F.col("cnt") >= t).collect()}
    assert inc == plain
    # replay: nothing new, report unchanged
    out2 = incremental_frequent_items_ingest(spark, src, store, ck,
                                             phi=0.01)
    assert {(r.item, r.cnt) for r in out2.collect()} == inc
    # state stays bounded: <= capacity item rows PER WAVE plus one
    # NULL n-carrier per wave; the carriers sum to the exact corpus
    # token count and the two waves carry distinct batch ids
    st = spark.read.parquet(store + "_state").collect()
    cap = int(math.ceil(2.0 / 0.01))
    waves = {r.batch_id for r in st}
    assert len(waves) == 2
    assert len([r for r in st if r.item is not None]) <= cap * 2
    assert sum(r.est for r in st if r.item is None) == n


def test_incremental_quantile_ingest_equals_batch(spark, eng, tmp_path):
    """Two-wave histogram-state quantiles == exact percentile over the
    raw corpus; a replay changes nothing; the state is bounded by
    groups x distinct values and its counts sum to the corpus."""
    from preql_spark.streaming.stream import incremental_quantile_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = r"size(split(trim(text), '\\s+'))"
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck, st, ids,
                                value_expr=expr)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_quantile_ingest(spark, src, ck, st, ids,
                                      value_expr=expr)
    inc = {(r.source, r.n, r.p50, r.p90) for r in out.collect()}
    one = {(r.source, r.n, r.p50, r.p90) for r in
           d.select("source", F.expr(expr).cast("long").alias("v"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.9)).alias("p90"))
            .collect()}
    assert inc == one and len(inc) > 0
    out2 = incremental_quantile_ingest(spark, src, ck, st, ids,
                                       value_expr=expr)
    assert {(r.source, r.n, r.p50, r.p90)
            for r in out2.collect()} == inc
    state = spark.read.parquet(st)
    n_rows = d.count()
    assert state.agg(F.sum("cnt")).collect()[0][0] == n_rows
    n_distinct = (d.select("source", F.expr(expr).alias("v"))
                  .distinct().count())
    # append-only per-wave rows with distinct batch ids; the merged
    # (g, v) domain equals the corpus's distinct pairs
    assert state.select("g", "v").distinct().count() == n_distinct
    assert state.select("batch_id").distinct().count() == 2


def test_incremental_quantile_ingest_int_group(spark, eng, tmp_path):
    """A non-string group column keeps its dtype through the state
    store (r6 advice: the state schema hardcoded 'g string')."""
    from preql_spark.streaming.stream import incremental_quantile_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select(
        "doc_id", (F.col("doc_id") % 4).alias("bucket"), "text")
    expr = r"size(split(trim(text), '\\s+'))"
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck, st, ids,
                                group_col="bucket", value_expr=expr)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_quantile_ingest(spark, src, ck, st, ids,
                                      group_col="bucket",
                                      value_expr=expr)
    assert dict(out.dtypes)["bucket"] == "bigint"
    inc = {(r.bucket, r.n, r.p50, r.p90) for r in out.collect()}
    one = {(r.bucket, r.n, r.p50, r.p90) for r in
           d.select("bucket", F.expr(expr).cast("long").alias("v"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.9)).alias("p90"))
            .collect()}
    assert inc == one and len(inc) == 4


def test_incremental_distinct_ingest_equals_batch(spark, eng, tmp_path):
    """Two-wave distinct-inventory ingest == one-shot COUNT(DISTINCT);
    replay is a no-op; the state holds exactly the distinct pairs."""
    from preql_spark.streaming.stream import incremental_distinct_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = r"cast(size(split(trim(text), '\\s+')) as string)"
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_distinct_ingest(spark, src, ck, st, ids,
                                value_expr=expr)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_distinct_ingest(spark, src, ck, st, ids,
                                      value_expr=expr)
    inc = {(r.source, r.n_distinct) for r in out.collect()}
    one = {(r.source, r.n) for r in
           d.select("source", F.expr(expr).alias("v"))
            .filter("v is not null")
            .groupBy("source")
            .agg(F.count_distinct("v").alias("n")).collect()}
    assert inc == one and len(inc) > 0
    out2 = incremental_distinct_ingest(spark, src, ck, st, ids,
                                       value_expr=expr)
    assert {(r.source, r.n_distinct) for r in out2.collect()} == inc
    state = spark.read.parquet(st)
    assert state.count() == state.distinct().count() \
        == sum(n for _, n in inc)


def test_incremental_hll_ingest_equals_batch(spark, eng, tmp_path):
    """Two-wave HLL ingest == one-shot hll_sketch_agg over the full
    corpus (sketch union is register-wise max, exactly mergeable);
    replay is a no-op; state is append-only per-(group, wave) sketch
    rows guarded by (run_id, batch_id)."""
    from preql_spark.streaming.stream import incremental_hll_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_hll_ingest(spark, src, ck, st, ids)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_hll_ingest(spark, src, ck, st, ids)
    inc = {(r.source, r.n_distinct_approx) for r in out.collect()}
    one = {(r.source, r.n) for r in
           d.select("source", F.col("text").cast("string").alias("v"))
            .filter("v is not null")
            .groupBy("source")
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("v", F.lit(12))).alias("n"))
            .collect()}
    assert inc == one and len(inc) > 0
    out2 = incremental_hll_ingest(spark, src, ck, st, ids)
    assert {(r.source, r.n_distinct_approx)
            for r in out2.collect()} == inc
    # append-only: one sketch row per (group, wave), two waves, and
    # a replay appends nothing
    state = spark.read.parquet(st)
    assert state.count() == 2 * len(inc)
    assert state.select("batch_id").distinct().count() == 2


def test_hll_ingest_crash_window_no_state_loss(spark, eng, tmp_path):
    """The r8-review crash window: the writer dies AFTER the epoch's
    state append but BEFORE the ids append.  The restart re-delivers
    the whole epoch (no ids were written), the (run_id, batch_id)
    anti-join drops the rebuilt sketch rows, only the ids append
    completes — and, crucially, no prior wave's sketch is lost (the
    old overwrite-merged state deleted its only copy mid-write).
    Report must equal the one-shot sketch of the full corpus."""
    from preql_spark.streaming.stream import (_ingest_run_id,
                                              incremental_hll_ingest)
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_hll_ingest(spark, src, ck, st, ids)
    # wave 2 lands in src; simulate the crash: epoch 1's sketch rows
    # reach the state, the ids append never happens, the checkpoint
    # never commits
    wave2 = d.filter(F.col("doc_id") >= 250)
    wave2.write.mode("append").parquet(src)
    run_id = _ingest_run_id(spark, ck)
    (wave2.select(F.col("source").alias("g"),
                  F.col("text").cast("string").alias("v"))
     .filter(F.col("v").isNotNull())
     .groupBy("g").agg(F.hll_sketch_agg("v", F.lit(12)).alias("sketch"))
     .withColumn("batch_id", F.lit(1).cast("long"))
     .withColumn("run_id", F.lit(run_id))
     .coalesce(1).write.mode("append").parquet(st))
    # restart: epoch 1 re-delivers in full (ids absent for wave 2)
    out = incremental_hll_ingest(spark, src, ck, st, ids)
    inc = {(r.source, r.n_distinct_approx) for r in out.collect()}
    one = {(r.source, r.n) for r in
           d.select("source", F.col("text").cast("string").alias("v"))
            .filter("v is not null")
            .groupBy("source")
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("v", F.lit(12))).alias("n"))
            .collect()}
    assert inc == one and len(inc) > 0
    # the guard dropped the replayed fold: still one row per
    # (group, wave), and wave 2's ids are now committed
    state = spark.read.parquet(st)
    assert state.count() == 2 * len(inc)
    assert (spark.read.parquet(ids).count()
            == d.select("doc_id").distinct().count())


def test_hll_ingest_resumes_legacy_state(spark, eng, tmp_path):
    """A state written by the pre-guard release (bare (g, sketch)
    rows, no run_id/batch_id) must resume: the mergeSchema read plus
    the legacy bridge stamp it as the closed ('__legacy__', -1)
    lineage, the new wave folds alongside it, and the report equals
    the one-shot sketch.  HLL union idempotence makes the legacy
    rows safe to keep as-is."""
    from preql_spark.streaming.stream import incremental_hll_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    wave1 = d.filter(F.col("doc_id") < 250)
    # hand-write the LEGACY state + ids exactly as the old release
    # left them: merged (g, sketch) rows, ids appended
    (wave1.select(F.col("source").alias("g"),
                  F.col("text").cast("string").alias("v"))
     .filter(F.col("v").isNotNull())
     .groupBy("g").agg(F.hll_sketch_agg("v", F.lit(12)).alias("sketch"))
     .coalesce(1).write.mode("overwrite").parquet(st))
    wave1.select("doc_id").write.mode("overwrite").parquet(ids)
    d.write.mode("overwrite").parquet(src)   # wave 2 = the rest
    out = incremental_hll_ingest(spark, src, ck, st, ids)
    inc = {(r.source, r.n_distinct_approx) for r in out.collect()}
    one = {(r.source, r.n) for r in
           d.select("source", F.col("text").cast("string").alias("v"))
            .filter("v is not null")
            .groupBy("source")
            .agg(F.hll_sketch_estimate(
                F.hll_sketch_agg("v", F.lit(12))).alias("n"))
            .collect()}
    assert inc == one and len(inc) > 0


def test_incremental_tdigest_ingest_accuracy_and_replay(
        spark, eng, tmp_path):
    """Two-wave t-digest ingest estimates per-group p50/p90 of a
    continuous metric within sub-percent rank error of the exact
    percentile; replay is a no-op; state is one digest row per
    group."""
    from preql_spark.streaming.stream import incremental_tdigest_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.events.df.select(
        F.col("event_id").alias("doc_id"),
        F.col("event_type").alias("source"),
        F.col("value").alias("metric"))
    d.filter(F.col("doc_id") < 500).write.mode("overwrite").parquet(src)
    incremental_tdigest_ingest(spark, src, ck, st, ids,
                               value_expr="metric")
    d.filter(F.col("doc_id") >= 500).write.mode("append").parquet(src)
    out = incremental_tdigest_ingest(spark, src, ck, st, ids,
                                     value_expr="metric")
    got = {r.source: r for r in out.collect()}
    exact = {r.source: (r.n, r.p50, r.p90) for r in
             d.groupBy("source")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.percentile("metric", F.lit(0.5)).alias("p50"),
                   F.percentile("metric", F.lit(0.9)).alias("p90"))
              .collect()}
    import numpy as np
    vals = {r.source: [] for r in d.select("source").distinct().collect()}
    for r in d.collect():
        vals[r.source].append(r.metric)
    assert set(got) == set(exact) and len(got) > 0
    for g, r in got.items():
        assert r.n == exact[g][0]
        arr = np.sort(np.array(vals[g]))
        for q, e in ((0.5, r.p50), (0.9, r.p90)):
            rank = np.searchsorted(arr, e) / len(arr)
            assert abs(rank - q) < 0.01, (g, q, rank)
    n_state = spark.read.parquet(st).count()
    out2 = incremental_tdigest_ingest(spark, src, ck, st, ids,
                                      value_expr="metric")
    assert {(r.source, r.n, r.p50, r.p90) for r in out2.collect()} \
        == {(r.source, r.n, r.p50, r.p90) for r in out.collect()}
    # replay appends nothing; state is one digest row per (group,
    # wave) with distinct batch ids guarding re-delivery
    state = spark.read.parquet(st)
    assert state.count() == n_state
    per = {(r.g, r.batch_id) for r in
           state.select("g", "batch_id").collect()}
    assert len(per) == n_state and \
        len({b for _, b in per}) >= 2


def test_compact_ingest_state_preserves_reports(spark, eng, tmp_path):
    """Compacting each append-only ingest state folds waves to one
    and leaves the next report identical (histogram, t-digest, and
    frequent-items kinds); the kept batch_id is the max epoch."""
    from preql_spark.streaming.stream import (
        compact_ingest_state, incremental_quantile_ingest,
        incremental_tdigest_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = r"size(split(trim(text), '\\s+'))"

    # histogram kind
    src, st, ids, ck = (str(tmp_path / x) for x in
                        ("qsrc", "qst", "qids", "qck"))
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck, st, ids,
                                value_expr=expr)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    before = {tuple(r) for r in
              incremental_quantile_ingest(spark, src, ck, st, ids,
                                          value_expr=expr).collect()}
    pre_rows = spark.read.parquet(st).count()
    n = compact_ingest_state(spark, st, kind="histogram")
    assert n < pre_rows
    state = spark.read.parquet(st)
    assert state.select("batch_id").distinct().count() == 1
    after = {tuple(r) for r in
             incremental_quantile_ingest(spark, src, ck, st, ids,
                                         value_expr=expr).collect()}
    assert after == before

    # t-digest kind
    src, st, ids, ck = (str(tmp_path / x) for x in
                        ("tsrc", "tst", "tids", "tck"))
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_tdigest_ingest(spark, src, ck, st, ids,
                               value_expr="ln(1 + length(text))")
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    b2 = {(r.source, r.n) for r in
          incremental_tdigest_ingest(
              spark, src, ck, st, ids,
              value_expr="ln(1 + length(text))").collect()}
    n2 = compact_ingest_state(spark, st, kind="tdigest")
    a2rep = incremental_tdigest_ingest(
        spark, src, ck, st, ids,
        value_expr="ln(1 + length(text))")
    a2 = {(r.source, r.n) for r in a2rep.collect()}
    assert a2 == b2 and n2 == len(b2)

    import pytest as _pt
    with _pt.raises(ValueError, match="state kind"):
        compact_ingest_state(spark, st, kind="nope")


def test_compact_ingest_ids_drops_read_cost_keeps_idempotence(
        spark, eng, tmp_path):
    """compact_ingest_ids rewrites the append-only per-batch ids
    files as ONE distinct file: the per-batch read cost (file count)
    drops, the next report is unchanged, and replay-idempotence
    still holds — a replayed wave ingests nothing after compaction.
    In-wave duplicate ids write ONCE even before compaction (the r13
    in-batch dedup fix — they used to append twice)."""
    from preql_spark.streaming.stream import (
        compact_ingest_ids, incremental_quantile_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "text")
    # two rows per doc in wave 1: in-batch dups must fold/append once
    dup = d.filter(F.col("doc_id") < 250)
    src, st, ids, ck = (str(tmp_path / x) for x in
                        ("src", "st", "ids", "ck"))
    dup.unionAll(dup).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck, st, ids)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    before = {tuple(r) for r in
              incremental_quantile_ingest(spark, src, ck, st,
                                          ids).collect()}
    n_docs = d.count()
    pre_rows = spark.read.parquet(ids).count()
    pre_files = len([f for f in os.listdir(ids)
                     if f.endswith(".parquet")])
    assert pre_rows == n_docs          # in-batch dups folded once
    n = compact_ingest_ids(spark, ids)
    assert n == n_docs                  # the true id cardinality
    assert spark.read.parquet(ids).count() == n
    post_files = len([f for f in os.listdir(ids)
                      if f.endswith(".parquet")])
    assert post_files == 1 and post_files < pre_files
    # replay: the compacted store still dedups every prior id
    after = {tuple(r) for r in
             incremental_quantile_ingest(spark, src, ck, st,
                                         ids).collect()}
    assert after == before
    assert spark.read.parquet(ids).count() == n   # nothing re-added


def test_compaction_refuses_during_active_stream(spark, eng, tmp_path):
    """The RUN-ONLY-WHILE-STOPPED compaction contract is mechanical:
    with ANY active streaming query in the session, both
    compact_ingest_state and compact_ingest_ids raise before touching
    the state."""
    from preql_spark.streaming.stream import (
        compact_ingest_ids, compact_ingest_state,
        incremental_quantile_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "text")
    src, st, ids, ck = (str(tmp_path / x) for x in
                        ("src", "st", "ids", "ck"))
    d.write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck, st, ids)
    q = (spark.readStream.format("rate").option("rowsPerSecond", 1)
         .load().writeStream.format("memory")
         .queryName("t_compact_guard").start())
    try:
        with pytest.raises(RuntimeError, match="STOPPED"):
            compact_ingest_state(spark, st, kind="histogram")
        with pytest.raises(RuntimeError, match="STOPPED"):
            compact_ingest_ids(spark, ids)
    finally:
        q.stop()
    # stream stopped -> both run fine
    assert compact_ingest_state(spark, st, kind="histogram") > 0
    assert compact_ingest_ids(spark, ids) > 0


def test_stranded_compaction_backup_fails_loudly(spark, eng, tmp_path):
    """A crash between the compaction swap's two renames leaves the
    live state ABSENT and only the __pre_compact backup on disk; the
    next ingest must fail LOUDLY with the rename-back recipe (the
    silent alternative: fresh state + full ids store = all prior
    waves vanish from reports while dedup still drops their rows).
    Renaming the backup back recovers exactly.  The crash-after-swap
    flavor (live dir present AND backup present) also refuses, with
    the delete recipe."""
    from preql_spark.streaming.stream import incremental_quantile_ingest
    import shutil
    d = eng.t.documents.df.select("doc_id", "source", "text")
    src, st, ids, ck = (str(tmp_path / x) for x in
                        ("src", "st", "ids", "ck"))
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck, st, ids)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    # simulate the mid-swap crash: state renamed aside, never swapped
    os.rename(st, st + "__pre_compact")
    with pytest.raises(IOError, match="stranded"):
        incremental_quantile_ingest(spark, src, ck, st, ids)
    # recovery recipe: rename back -> wave 2 ingests normally
    os.rename(st + "__pre_compact", st)
    out = {tuple(r) for r in
           incremental_quantile_ingest(spark, src, ck, st,
                                       ids).collect()}
    one = {tuple(r) for r in
           d.select("source",
                    F.expr("length(text)").cast("long").alias("v"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.9)).alias("p90"))
            .collect()}
    assert out == one
    # crash-after-swap flavor: live dir present, stale backup present
    shutil.copytree(st, st + "__pre_compact")
    with pytest.raises(IOError, match="stranded"):
        incremental_quantile_ingest(spark, src, ck, st, ids)
    shutil.rmtree(st + "__pre_compact")
    # ids-store backups guard identically
    os.rename(ids, ids + "__pre_compact")
    with pytest.raises(IOError, match="stranded"):
        incremental_quantile_ingest(spark, src, ck, st, ids)
    os.rename(ids + "__pre_compact", ids)


def test_compact_frequent_state_preserves_report(spark, eng, tmp_path):
    """Compacting the frequent-items summary state (Misra-Gries
    mergeable fold) leaves the next report identical and keeps the
    exact n carrier."""
    import math
    from preql_spark.streaming.stream import (
        compact_ingest_state, incremental_frequent_items_ingest)
    src = str(tmp_path / "fsrc")
    store = str(tmp_path / "fstore")
    ck = str(tmp_path / "fck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_frequent_items_ingest(spark, src, store, ck, phi=0.01)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    before = {(r.item, r.cnt) for r in
              incremental_frequent_items_ingest(
                  spark, src, store, ck, phi=0.01).collect()}
    st_path = store + "_state"
    cap = int(math.ceil(2.0 / 0.01))
    n_rows = compact_ingest_state(spark, st_path, kind="frequent",
                                  capacity=cap)
    st = spark.read.parquet(st_path).collect()
    assert len(st) == n_rows
    assert len({(r.run_id, r.batch_id) for r in st}) == 1
    after = {(r.item, r.cnt) for r in
             incremental_frequent_items_ingest(
                 spark, src, store, ck, phi=0.01).collect()}
    assert after == before


def test_compact_multi_lineage_keeps_per_run_carriers(spark, eng,
                                                      tmp_path):
    """The r8-review two-lineage double-fold: lineage A commits
    epochs 0 and 1, a FRESH checkpoint (lineage B) commits epoch 0,
    then B's epoch 1 crashes in the state-written/ids-missing
    window.  Compaction must keep a carrier for EVERY run's max
    epoch — a single global carrier would keep only (A, 1), erase
    (B, 1), and let the replayed crash-window batch double-fold.
    After compaction + restart the report equals the one-shot
    percentile over all four waves."""
    from preql_spark.streaming.stream import (_ingest_run_id,
                                              compact_ingest_state,
                                              incremental_quantile_ingest)
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = r"size(split(trim(text), '\\s+'))"
    # lineage A: epochs 0 and 1
    d.filter(F.col("doc_id") < 150).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, ck1, st, ids,
                                value_expr=expr)
    d.filter((F.col("doc_id") >= 150) & (F.col("doc_id") < 300)) \
        .write.mode("append").parquet(src)
    incremental_quantile_ingest(spark, src, ck1, st, ids,
                                value_expr=expr)
    # lineage B (fresh checkpoint): epoch 0
    d.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 400)) \
        .write.mode("append").parquet(src)
    incremental_quantile_ingest(spark, src, ck2, st, ids,
                                value_expr=expr)
    rid_a = _ingest_run_id(spark, ck1)
    rid_b = _ingest_run_id(spark, ck2)
    # B's epoch 1 crash window: state rows written, ids NOT
    wave4 = d.filter(F.col("doc_id") >= 400)
    wave4.write.mode("append").parquet(src)
    (wave4.select(F.col("source").alias("g"),
                  F.expr(expr).cast("long").alias("v"))
     .groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
     .withColumn("batch_id", F.lit(1).cast("long"))
     .withColumn("run_id", F.lit(rid_b))
     .coalesce(1).write.mode("append").parquet(st))
    compact_ingest_state(spark, st, kind="histogram")
    pairs = {(r.run_id, r.batch_id) for r in
             spark.read.parquet(st)
             .select("run_id", "batch_id").distinct().collect()}
    # data rows carry A's max epoch; B keeps its own max as a carrier
    assert pairs == {(rid_a, 1), (rid_b, 1)}
    # restart lineage B: epoch 1 re-delivers in full (no ids), the
    # guard must drop the rebuilt histogram — not double-fold it
    out = incremental_quantile_ingest(spark, src, ck2, st, ids,
                                      value_expr=expr)
    one = {(r.source, r.n, r.p50, r.p90) for r in
           d.select("source", F.expr(expr).cast("long").alias("v"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.9)).alias("p90"))
            .collect()}
    assert {(r.source, r.n, r.p50, r.p90) for r in out.collect()} == one


def test_quantile_ingest_resumes_legacy_state(spark, eng, tmp_path):
    """A histogram state written by the pre-guard release (no
    run_id/batch_id columns) must resume instead of throwing
    AnalysisException: the mergeSchema read + legacy bridge stamp
    the old rows as the closed ('__legacy__', -1) lineage and the
    new wave folds alongside them."""
    from preql_spark.streaming.stream import incremental_quantile_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = r"size(split(trim(text), '\\s+'))"
    wave1 = d.filter(F.col("doc_id") < 250)
    # hand-write the legacy state/ids: bare (g, v, cnt) rows
    (wave1.select(F.col("source").alias("g"),
                  F.expr(expr).cast("long").alias("v"))
     .groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
     .coalesce(1).write.mode("overwrite").parquet(st))
    wave1.select("doc_id").write.mode("overwrite").parquet(ids)
    d.write.mode("overwrite").parquet(src)
    out = incremental_quantile_ingest(spark, src, ck, st, ids,
                                      value_expr=expr)
    one = {(r.source, r.n, r.p50, r.p90) for r in
           d.select("source", F.expr(expr).cast("long").alias("v"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.9)).alias("p90"))
            .collect()}
    assert {(r.source, r.n, r.p50, r.p90) for r in out.collect()} == one
    # the legacy rows were stamped, not rewritten
    assert (spark.read.option("mergeSchema", "true").parquet(st)
            .filter(F.col("run_id").isNull()).count() > 0)


def test_incremental_psi_ingest_equals_batch(spark, eng, tmp_path):
    """Two-wave streaming PSI == one-shot == the batch psi operator
    over the full corpus, bit-identical (the state is the exact
    per-(side, value) histogram, so the report re-derives bounds and
    buckets losslessly); replay is a no-op; the state is the
    histogram-kind append-only schema, so histogram compaction
    applies unchanged and preserves the report."""
    from preql_spark.operators.events import psi
    from preql_spark.streaming.stream import (compact_ingest_state,
                                              incremental_psi_ingest)
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = "length(text)"
    kw = dict(side_a="src1", side_b="src2", side_col="source",
              value_expr=expr)
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_psi_ingest(spark, src, ck, st, ids, **kw)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_psi_ingest(spark, src, ck, st, ids, **kw).collect()
    one = psi(d.withColumn("v", F.expr(expr).cast("long")),
              "v", "source", "src1", "src2").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in one]
    assert out[0]["n_a"] > 0 and out[0]["n_b"] > 0
    # replay: nothing new, report unchanged
    out2 = incremental_psi_ingest(spark, src, ck, st, ids,
                                  **kw).collect()
    assert [tuple(r) for r in out2] == [tuple(r) for r in out]
    # histogram compaction preserves the report
    compact_ingest_state(spark, st, kind="histogram")
    out3 = incremental_psi_ingest(spark, src, ck, st, ids,
                                  **kw).collect()
    assert [tuple(r) for r in out3] == [tuple(r) for r in out]


def test_incremental_ks_ingest_equals_batch_and_shares_state(
        spark, eng, tmp_path):
    """Two-wave streaming KS == the batch ks_statistic over the full
    corpus, bit-identical (lossless histogram state); the KS and PSI
    ingests literally SHARE one state — the PSI report over the same
    paths still equals batch psi afterwards."""
    from preql_spark.operators.events import ks_statistic, psi
    from preql_spark.streaming.stream import (incremental_ks_ingest,
                                              incremental_psi_ingest)
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    kw = dict(side_a="src1", side_b="src2", side_col="source",
              value_expr="length(text)")
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_ks_ingest(spark, src, ck, st, ids, **kw)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_ks_ingest(spark, src, ck, st, ids,
                                **kw).collect()
    dv = d.withColumn("v", F.length("text").cast("long"))
    one = ks_statistic(dv, "v", "source", "src1", "src2").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in one]
    assert out[0]["n_a"] > 0 and out[0]["d_stat"] is not None
    # the PSI report reads the SAME state (no new data to ingest)
    p = incremental_psi_ingest(spark, src, ck, st, ids, **kw).collect()
    pb = psi(dv, "v", "source", "src1", "src2").collect()
    assert [tuple(r) for r in p] == [tuple(r) for r in pb]


def test_incremental_chi_square_ingest_equals_batch_and_shares_state(
        spark, eng, tmp_path):
    """Two-wave streaming chi-square == the batch chi_square operator
    over the full corpus (sides filtered, value cast long),
    bit-identical — the from-state report rebuilds the contingency
    cells from the lossless histogram and runs the SAME shared tail;
    the state is literally q195/q197's (the three drift monitors
    share one state — the KS report over the same paths still equals
    batch KS afterwards); replay is a no-op."""
    from preql_spark.operators.events import chi_square, ks_statistic
    from preql_spark.streaming.stream import (
        incremental_chi_square_ingest, incremental_ks_ingest)
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = "length(text) % 7"        # 7-level categorical
    kw = dict(side_a="src1", side_b="src2", side_col="source",
              value_expr=expr)
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_chi_square_ingest(spark, src, ck, st, ids, **kw)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_chi_square_ingest(spark, src, ck, st, ids,
                                        **kw).collect()
    two = (d.filter(F.col("source").isin(["src1", "src2"]))
           .withColumn("v", F.expr(expr).cast("long")))
    one = chi_square(two, "source", "v").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in one]
    assert out[0]["n"] > 0 and out[0]["dof"] == 6
    assert out[0]["chi2"] is not None and out[0]["cramers_v"] is not None
    # replay: nothing new, report unchanged
    out2 = incremental_chi_square_ingest(spark, src, ck, st, ids,
                                         **kw).collect()
    assert [tuple(r) for r in out2] == [tuple(r) for r in out]
    # the KS report reads the SAME state (no new data to ingest)
    k = incremental_ks_ingest(spark, src, ck, st, ids, **kw).collect()
    kb = ks_statistic(d.withColumn("v", F.expr(expr).cast("long")),
                      "v", "source", "src1", "src2").collect()
    assert [tuple(r) for r in k] == [tuple(r) for r in kb]


def test_histogram_ingest_crash_replay_injection(spark, eng, tmp_path):
    """The histogram-state crash window, exercised by injecting the
    exact crash state (shared by the quantile / z-monitor / PSI / KS
    / chi² ingests): the epoch's state rows committed but the ids
    row lost (a crash between the two appends).  The replayed batch
    must rebuild identical rows, have them DROPPED by the (run_id,
    batch_id) guard — counter sums are not re-apply-idempotent, a
    double-fold would corrupt every report — and complete the ids
    append.  Report == batch operator afterwards."""
    from preql_spark.operators.events import z_outliers
    from preql_spark.streaming.stream import incremental_z_monitor_ingest
    src, st, ids, ck = (str(tmp_path / x)
                        for x in ("src", "state", "ids", "ck"))
    d = eng.t.documents.df.select("doc_id", "source", "text")
    w1 = d.filter(F.col("doc_id") < 250)
    w2 = d.filter(F.col("doc_id") >= 250)
    kw = dict(group_col="source", value_expr="length(text)", k=1.5)
    w1.write.mode("overwrite").parquet(src)
    incremental_z_monitor_ingest(spark, src, ck, st, ids, **kw)
    # inject: the EXACT state rows the sink would write for epoch 1
    # (the committed half of the crash) — no ids row
    rid = open(os.path.join(ck, "__ingest_run_id")).read().strip()
    (w2.select(F.col("source").alias("g"),
               F.expr("length(text)").cast("long").alias("v"))
     .groupBy("g", "v").agg(F.count(F.lit(1)).alias("cnt"))
     .withColumn("batch_id", F.lit(1).cast("long"))
     .withColumn("run_id", F.lit(rid))
     .coalesce(1).write.mode("append").parquet(st))
    # deliver wave 2: the guard must drop the rebuilt rows (no
    # double-fold) and the ids append must complete
    w2.write.mode("append").parquet(src)
    out = incremental_z_monitor_ingest(spark, src, ck, st, ids,
                                       **kw).collect()
    batch = z_outliers(d.withColumn("vv", F.length("text")),
                       "source", "vv", k=1.5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    # exactly one state copy of epoch 1 (the injected one)
    stt = spark.read.parquet(st)
    one = stt.filter((F.col("run_id") == rid)
                     & (F.col("batch_id") == 1))
    assert one.groupBy("g", "v").count() \
        .filter(F.col("count") > 1).isEmpty()
    # the ids row completed: a further replay changes nothing
    out2 = incremental_z_monitor_ingest(spark, src, ck, st, ids,
                                        **kw).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))
    sc = spark.read.parquet(ids)
    assert sc.select("doc_id").distinct().count() == d.count()


def test_incremental_datacard_state_identity(spark, eng, tmp_path):
    """Two-wave streaming data card == batch corpus_datacard over
    the full corpus, CUBE cell for cell (additive metrics from the
    counters state, n_distinct from the fingerprint inventory —
    incl. rolled-up cells where a fingerprint spanning two sources
    must count ONCE); GENUINE-NULL group values (every 17th doc's
    lang NULLed) stay distinct cells from the rollup cells via the
    grouping_id join key; replay is a no-op; the inventory is
    bounded by the true distinct cardinality."""
    from preql_spark.operators.text import corpus_datacard
    from preql_spark.streaming.stream import incremental_datacard_ingest
    src, st, prs, ids, ck = (str(tmp_path / x)
                             for x in ("src", "st", "prs", "ids", "ck"))
    d = (eng.t.documents.df.select("doc_id", "source", "lang", "text")
         .withColumn("lang", F.when(F.col("doc_id") % 17 == 0,
                                    F.lit(None).cast("string"))
                     .otherwise(F.col("lang"))))
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_datacard_ingest(spark, src, ck, st, prs, ids)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_datacard_ingest(spark, src, ck, st, prs, ids)
    key = lambda r: (r["source"] or "", r["lang"] or "",  # noqa: E731
                     r["gid"])
    val = lambda r: (r["n_docs"], r["total_tokens"],  # noqa: E731
                     r["total_bytes"], r["n_distinct"],
                     round(r["dup_ratio"], 9))
    got = {key(r): val(r) for r in out.collect()}
    want = {key(r): val(r) for r in corpus_datacard(d).collect()}
    assert got == want
    assert ("", "", 3) in got       # the global rollup cell exists
    # a data-NULL lang cell (gid=0: lang is GROUPED, its value is
    # NULL) and the lang-rollup cell for the same source (gid=1) are
    # DISTINCT cells with different counts — the grouping_id contract
    some_src = next(s for (s, lg, g) in got if g == 0 and lg == "")
    null_cell = got[(some_src, "", 0)]
    rollup_cell = got[(some_src, "", 1)]
    assert null_cell != rollup_cell
    assert null_cell[0] < rollup_cell[0]   # rollup spans all langs
    # replay: nothing new, report unchanged
    out2 = incremental_datacard_ingest(spark, src, ck, st, prs, ids)
    got2 = {key(r): val(r) for r in out2.collect()}
    assert got2 == got
    # inventory bound: one row per distinct (source, lang, fp)
    inv = spark.read.parquet(prs)
    assert inv.count() == inv.distinct().count()


def test_compact_datacard_state_preserves_report(spark, eng, tmp_path):
    """Compacting the data-card counters state (summed fold + the
    lineage carrier rule) and distinct-collapsing the inventory and
    ids stores leaves the next report identical to batch
    corpus_datacard; the post-compaction replay ingests nothing; the
    state shrinks to one row per group."""
    from preql_spark.operators.text import corpus_datacard
    from preql_spark.streaming.stream import (
        compact_datacard_state, compact_ingest_ids,
        incremental_datacard_ingest)
    src, st, prs, ids, ck = (str(tmp_path / x)
                             for x in ("src", "st", "prs", "ids", "ck"))
    d = eng.t.documents.df.select("doc_id", "source", "lang", "text")
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_datacard_ingest(spark, src, ck, st, prs, ids)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    incremental_datacard_ingest(spark, src, ck, st, prs, ids)
    rows_before = spark.read.parquet(st).count()
    n = compact_datacard_state(spark, st)
    compact_ingest_ids(spark, prs)
    compact_ingest_ids(spark, ids)
    assert n < rows_before          # two waves folded into one
    # report after compaction (replay wave: nothing new) == batch
    out = incremental_datacard_ingest(spark, src, ck, st, prs, ids)
    key = lambda r: (r["source"] or "", r["lang"] or "",  # noqa: E731
                     r["gid"])
    got = {key(r): (r["n_docs"], r["total_tokens"], r["total_bytes"],
                    r["n_distinct"], round(r["dup_ratio"], 9))
           for r in out.collect()}
    want = {key(r): (r["n_docs"], r["total_tokens"], r["total_bytes"],
                     r["n_distinct"], round(r["dup_ratio"], 9))
            for r in corpus_datacard(d).collect()}
    assert got == want
    # one summed row per (source, lang), single lineage, no carriers
    stt = spark.read.parquet(st)
    assert stt.count() == d.select("source", "lang").distinct().count()
    assert stt.select("run_id").distinct().count() == 1


def test_incremental_gate_rate_state_identity(spark, eng, tmp_path):
    """Two-wave streaming gate keep-rate == batch gate + GROUP BY
    over the full corpus for BOTH gates (gopher and c4); replay is a
    no-op; the counters state compacts with compact_datacard_state's
    generalized metric_cols and the report is unchanged; an unknown
    gate name raises."""
    from preql_spark.operators.text import c4_clean, gopher_quality_gate
    from preql_spark.streaming.stream import (
        compact_datacard_state, incremental_gate_rate_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "text")
    for gate, fn, kw in [
            ("gopher", gopher_quality_gate,
             dict(min_words=40, min_stop_words=1)),
            ("c4", c4_clean, dict(min_sentences=1))]:
        base = tmp_path / gate
        src, st, ids, ck = (str(base / x)
                            for x in ("src", "st", "ids", "ck"))
        ing = lambda: incremental_gate_rate_ingest(  # noqa: E731
            spark, src, ck, st, ids, gate=gate, **kw)
        d.filter(F.col("doc_id") < 250).write.mode(
            "overwrite").parquet(src)
        ing()
        d.filter(F.col("doc_id") >= 250).write.mode(
            "append").parquet(src)
        out = ing()
        got = {r["source"]: (r["n_docs"], r["n_keep"],
                             round(r["keep_rate"], 9))
               for r in out.collect()}
        want = {r["source"]: (r["n"], r["k"],
                              round(r["k"] / r["n"], 9))
                for r in fn(d, **kw).groupBy("source")
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.col("keep").cast("long")).alias("k"))
                .collect()}
        assert got == want and len(got) == 20
        # replay: nothing new, report unchanged
        assert {r["source"]: (r["n_docs"], r["n_keep"],
                              round(r["keep_rate"], 9))
                for r in ing().collect()} == got
        # compaction (generalized metric_cols) preserves the report
        n = compact_datacard_state(spark, st, group_cols=("source",),
                                   metric_cols=("n_docs", "n_keep"))
        assert n == 20                  # one summed row per source
        assert {r["source"]: (r["n_docs"], r["n_keep"],
                              round(r["keep_rate"], 9))
                for r in ing().collect()} == got
    with pytest.raises(ValueError, match="unknown gate"):
        incremental_gate_rate_ingest(
            spark, src, str(tmp_path / "ck2"), st, ids,
            gate="nope")


def test_gate_rate_crash_replay_injection(spark, eng, tmp_path):
    """The gate-rate counters crash window, exercised by injecting
    the exact crash state: the epoch's counter rows written, ids row
    NOT (a crash between the two appends).  The replayed batch must
    hit the (run_id, batch_id) epoch guard — counters NOT re-folded
    (sums are not re-apply-idempotent) — and complete only the ids
    append; the report equals the batch gate exactly."""
    from preql_spark.operators.text import gopher_quality_gate
    from preql_spark.streaming.stream import (
        _ingest_run_id, incremental_gate_rate_ingest)
    src, st, ids, ck = (str(tmp_path / x)
                        for x in ("src", "st", "ids", "ck"))
    d = eng.t.documents.df.select("doc_id", "source", "text")
    kw = dict(gate="gopher", min_words=40, min_stop_words=1)
    w1 = d.filter(F.col("doc_id") < 250)
    w2 = d.filter(F.col("doc_id") >= 250)
    w1.write.mode("overwrite").parquet(src)
    incremental_gate_rate_ingest(spark, src, ck, st, ids, **kw)
    # inject epoch 1's crash: its counter rows exist, no ids row
    rid = _ingest_run_id(spark, ck)
    (gopher_quality_gate(w2, min_words=40, min_stop_words=1)
     .groupBy("source")
     .agg(F.count(F.lit(1)).alias("n_docs"),
          F.sum(F.col("keep").cast("long")).alias("n_keep"))
     .withColumn("batch_id", F.lit(1).cast("long"))
     .withColumn("run_id", F.lit(rid))
     .coalesce(1).write.mode("append").parquet(st))
    w2.write.mode("append").parquet(src)
    out = incremental_gate_rate_ingest(spark, src, ck, st, ids, **kw)
    got = {r["source"]: (r["n_docs"], r["n_keep"])
           for r in out.collect()}
    want = {r["source"]: (r["n"], r["k"])
            for r in gopher_quality_gate(d, min_words=40,
                                         min_stop_words=1)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("keep").cast("long")).alias("k"))
            .collect()}
    assert got == want                 # no double-fold
    # the recovery epoch completed its ids row: replay is a no-op
    assert spark.read.parquet(ids).distinct().count() == d.count()
    out2 = incremental_gate_rate_ingest(spark, src, ck, st, ids, **kw)
    assert {r["source"]: (r["n_docs"], r["n_keep"])
            for r in out2.collect()} == got


def test_in_batch_duplicate_ids_fold_once(spark, eng, tmp_path):
    """At-least-once delivery INSIDE one wave (the same doc id twice
    in a single batch) must fold once into every counter state —
    n_docs/n_keep (gate rate), the datacard counters, and the shared
    value histogram all dedup the batch on id before folding (the
    curation-ingest contract: first writer wins)."""
    from preql_spark.operators.text import gopher_quality_gate
    from preql_spark.streaming.stream import (
        incremental_datacard_ingest, incremental_gate_rate_ingest,
        incremental_quantile_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "text", "lang") \
        .filter(F.col("doc_id") < 120)
    dirty = d.union(d.filter(F.col("doc_id") < 40))   # in-wave dups
    kw = dict(gate="gopher", min_words=40, min_stop_words=1)
    base = tmp_path / "gate"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    dirty.select("doc_id", "source", "text") \
        .write.mode("overwrite").parquet(src)
    out = incremental_gate_rate_ingest(spark, src, ck, st, ids, **kw)
    want = {r["source"]: (r["n"], r["k"])
            for r in gopher_quality_gate(d, min_words=40,
                                         min_stop_words=1)
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("keep").cast("long")).alias("k"))
            .collect()}
    assert {r["source"]: (r["n_docs"], r["n_keep"])
            for r in out.collect()} == want
    base = tmp_path / "card"
    src, st, prs, ids, ck = (str(base / x)
                             for x in ("src", "st", "prs", "ids", "ck"))
    dirty.write.mode("overwrite").parquet(src)
    out = incremental_datacard_ingest(spark, src, ck, st, prs, ids,
                                      group_cols=("source",))
    got = {r["source"]: r["n_docs"] for r in
           out.filter(F.col("gid") == 0).collect()}
    assert got == {r["source"]: r["n"] for r in
                   d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
                   .collect()}
    base = tmp_path / "hist"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    dirty.write.mode("overwrite").parquet(src)
    out = incremental_quantile_ingest(spark, src, ck, st, ids,
                                      group_col="source")
    assert out.agg(F.sum("n")).collect()[0][0] == 120


def test_prune_ingest_ids_keeps_epoch_markers(spark, tmp_path):
    """NULL-``__id`` epoch-marker rows survive retention pruning: a
    user predicate over __id evaluates NULL on them, and dropping a
    marker would demote its committed epoch to pending-forever in
    the intent store.  After a prune, compact_ingest_ids can still
    prune the marker's intent row to empty."""
    from preql_spark.streaming.stream import (compact_ingest_ids,
                                              prune_ingest_ids)
    ids = str(tmp_path / "ids")
    intent = ids + "__intent"
    rows = [(i, "r1", 0) for i in range(100)] + [(None, "r1", 0)]
    spark.createDataFrame(
        rows, "__id: bigint, run_id: string, batch_id: bigint") \
        .write.mode("overwrite").parquet(ids)
    spark.createDataFrame([("r1", 0)],
                          "run_id: string, batch_id: bigint") \
        .write.mode("overwrite").parquet(intent)
    # 50 data ids kept + the marker row
    assert prune_ingest_ids(spark, ids, "__id >= 50") == 51
    kept = spark.read.parquet(ids)
    assert kept.filter(F.col("__id").isNull()).count() == 1
    assert kept.filter(F.col("__id").isNotNull()).count() == 50
    # the epoch is still sidecar-decidable as committed: its intent
    # row prunes away
    compact_ingest_ids(spark, ids)
    assert spark.read.parquet(intent).isEmpty()


def test_incremental_curation_ingest(spark, eng, tmp_path):
    """Streaming curated-corpus materialization: two-wave == batch
    c4_clean + keep-filter over the full corpus, row-for-row
    including the CLEANED text; replay and re-delivery (same ids as
    new files) are no-ops — the store is the dedup source, so no
    separate ids state and no crash window; gopher mode keeps raw
    text; unknown gate raises."""
    from preql_spark.operators.text import c4_clean
    from preql_spark.streaming.stream import incremental_curation_ingest
    src, store, ck = (str(tmp_path / x) for x in ("src", "store", "ck"))
    # multi-line docs so the C4 line filter has work: sentence + junk
    d = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50), F.lit(". keep me fine!"),
                 F.lit("\nno terminal punctuation junk line"),
                 F.when(F.col("doc_id") % 4 == 0,
                        F.lit("\nanother proper sentence right here."))
                 .otherwise(F.lit(""))).alias("text"))
    kw = dict(gate="c4", min_sentences=2)
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_curation_ingest(spark, src, ck, store, **kw)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_curation_ingest(spark, src, ck, store, **kw)
    got = {r["source"]: (r["n_docs"], r["total_chars"])
           for r in out.collect()}
    batch = (c4_clean(d, min_sentences=2).filter(F.col("keep"))
             .groupBy("source")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum(F.length("clean")).alias("ch")))
    want = {r["source"]: (r["n"], r["ch"]) for r in batch.collect()}
    assert got == want
    # the stored text IS the cleaned text, row for row
    stored = {r["doc_id"]: r["text"]
              for r in spark.read.parquet(store).collect()}
    expect = {r["doc_id"]: r["clean"]
              for r in c4_clean(d, min_sentences=2)
              .filter(F.col("keep")).select("doc_id", "clean")
              .collect()}
    assert stored == expect
    # replay + re-delivery of wave-1 ids as NEW files: no-ops
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in incremental_curation_ingest(
                spark, src, ck, store, **kw).collect()} == got
    d.filter(F.col("doc_id") < 100).write.mode("append").parquet(src)
    out3 = incremental_curation_ingest(spark, src, ck, store, **kw)
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out3.collect()} == got
    ids = spark.read.parquet(store).select("doc_id")
    assert ids.count() == ids.distinct().count()
    # curated-store compaction: a pure file-layout change — report
    # unchanged, and the next ingest still dedups against it
    from preql_spark.streaming.stream import compact_ingest_ids
    n = compact_ingest_ids(spark, store)
    assert n == sum(v[0] for v in got.values())
    d.filter(F.col("doc_id") < 50).write.mode("append").parquet(src)
    out4 = incremental_curation_ingest(spark, src, ck, store, **kw)
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out4.collect()} == got
    with pytest.raises(ValueError, match="unknown gate"):
        incremental_curation_ingest(
            spark, src, str(tmp_path / "ck2"), store, gate="nope")


def test_zero_byte_markers_count_as_absent(spark, eng, tmp_path):
    """A zero-byte ``<store>__gate_fp`` and a zero-byte
    ``__ingest_run_id`` (a crash between create and write in a release
    that wrote markers in place) are absent markers, not values: the
    curation ingest succeeds, mints a 32-hex run id that the ids
    sidecar carries, and re-pins the gate fingerprint, which then
    still catches a changed gate config."""
    import re

    from preql_spark.streaming.stream import incremental_curation_ingest
    src, store, ids, ck = (str(tmp_path / x)
                           for x in ("src", "store", "ids", "ck"))
    os.makedirs(ck)
    for marker in (os.path.join(ck, "__ingest_run_id"),
                   store + "__gate_fp"):
        open(marker, "wb").close()
    d = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50),
                 F.lit(". keep me fine! another sentence here."))
        .alias("text")).filter(F.col("doc_id") < 40)
    d.write.mode("overwrite").parquet(src)
    kw = dict(gate="c4", ids_path=ids, min_sentences=2)
    out = incremental_curation_ingest(spark, src, ck, store, **kw)
    assert sum(r["n_docs"] for r in out.collect()) > 0
    with open(os.path.join(ck, "__ingest_run_id")) as f:
        rid = f.read()
    assert re.fullmatch(r"[0-9a-f]{32}", rid), rid
    assert {r.run_id for r in spark.read.parquet(ids)
            .select("run_id").distinct().collect()} == {rid}
    assert os.path.getsize(store + "__gate_fp") > 0
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_curation_ingest(spark, src, ck, store, gate="c4",
                                    ids_path=ids, min_sentences=3)


def test_curation_ids_sidecar_semantics(spark, eng, tmp_path):
    """The curation ids SIDECAR is the anti-join source on the fast
    path: an id seeded into the sidecar (absent from the store) is
    skipped — proof the dedup reads the sidecar, not the store; the
    sidecar remembers gate-REJECTED ids too (the thing the
    content-addressed store cannot do); in-batch duplicates ingest
    once; compact_ingest_ids collapses sidecar to ONE file and
    prunes the intent store to empty (epoch markers make committed
    epochs decidable); post-compaction waves ingest only new ids;
    the report still equals the batch gate."""
    import glob
    from preql_spark.operators.text import c4_clean
    from preql_spark.streaming.stream import (
        compact_ingest_ids, incremental_curation_ingest)
    src, store, ids, ck = (str(tmp_path / x)
                           for x in ("src", "store", "ids", "ck"))
    d = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50), F.lit(". keep me fine!"),
                 F.when(F.col("doc_id") % 4 == 0,
                        F.lit("\nanother proper sentence right here."))
                 .otherwise(F.lit(""))).alias("text")) \
        .filter(F.col("doc_id") < 200)
    kw = dict(gate="c4", ids_path=ids, min_sentences=2)
    # doc 8 passes the gate in batch mode (8 % 4 == 0) — seed its id
    # into the sidecar so the fast path must drop it pre-gate
    spark.createDataFrame(
        [(8, "seed", -1)],
        "__id: bigint, run_id: string, batch_id: bigint") \
        .write.mode("overwrite").parquet(ids)
    dirty = d.union(d.filter(F.col("doc_id") < 30))   # in-batch dups
    dirty.write.mode("overwrite").parquet(src)
    out = incremental_curation_ingest(spark, src, ck, store, **kw)
    batch = (c4_clean(d.filter(F.col("doc_id") != 8), min_sentences=2)
             .filter(F.col("keep")))
    assert {r["source"]: r["n_docs"] for r in out.collect()} == \
        {r["source"]: r["n"] for r in batch.groupBy("source")
         .agg(F.count(F.lit(1)).alias("n")).collect()}
    stored = spark.read.parquet(store).select("doc_id")
    assert stored.filter(F.col("doc_id") == 8).isEmpty()
    assert stored.count() == stored.distinct().count()
    # the sidecar remembers REJECTED ids too: every delivered id is
    # a row (199 written survivors + the pre-seeded 8 = 200 distinct,
    # plus one NULL marker for the epoch)
    side = spark.read.parquet(ids)
    assert side.filter(F.col("__id").isNotNull()) \
        .select("__id").distinct().count() == 200
    assert side.filter(F.col("__id").isNull()).count() == 1
    # compaction: ONE file, intent pruned empty, decisions unchanged
    compact_ingest_ids(spark, ids)
    assert len(glob.glob(f"{ids}/*.parquet")) == 1
    assert spark.read.parquet(ids + "__intent").isEmpty()
    # re-delivery of old ids + genuinely new ones
    d2 = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50), F.lit(". keep me fine!"))
        .alias("text")).filter((F.col("doc_id") >= 200)
                               & (F.col("doc_id") < 220))
    d.filter(F.col("doc_id") < 40).unionByName(d2) \
        .write.mode("append").parquet(src)
    incremental_curation_ingest(spark, src, ck, store, **kw)
    side2 = spark.read.parquet(ids).filter(F.col("__id").isNotNull())
    assert side2.select("__id").distinct().count() == 220
    st2 = spark.read.parquet(store).select("doc_id")
    assert st2.count() == st2.distinct().count()


def test_curation_sidecar_crash_recovery(spark, eng, tmp_path):
    """The curation intent-store recovery branch, exercised by
    injecting the exact crash state: intent row written and PART of
    the epoch's keepers appended to the store, but no sidecar ids
    row (a crash between the store append and the ids append).  The
    replayed batch must detect the intent, fall back to the
    self-guarding anti-join against the STORE's id column, append
    only the missing keepers, and complete the ids row with the
    FULL deduped batch id set (gate-rejects included) — no
    duplicates, no losses, report == batch gate."""
    from preql_spark.operators.text import c4_clean
    from preql_spark.streaming.stream import (
        _ingest_run_id, incremental_curation_ingest)
    src, store, ids, ck = (str(tmp_path / x)
                           for x in ("src", "store", "ids", "ck"))
    d = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50), F.lit(". keep me fine!"),
                 F.when(F.col("doc_id") % 4 == 0,
                        F.lit("\nanother proper sentence right here."))
                 .otherwise(F.lit(""))).alias("text")) \
        .filter(F.col("doc_id") < 200)
    kw = dict(gate="c4", ids_path=ids, min_sentences=2)
    w1 = d.filter(F.col("doc_id") < 100)
    w2 = d.filter(F.col("doc_id") >= 100)
    w1.write.mode("overwrite").parquet(src)
    incremental_curation_ingest(spark, src, ck, store, **kw)
    # inject epoch 1's crash: intent row present, HALF of wave 2's
    # keepers already in the store, no sidecar row
    rid = _ingest_run_id(spark, ck)
    spark.createDataFrame([(rid, 1)],
                          "run_id: string, batch_id: long") \
        .coalesce(1).write.mode("append").parquet(ids + "__intent")
    (c4_clean(w2, min_sentences=2).filter(F.col("keep"))
     .filter(F.col("doc_id") < 150)
     .select("doc_id", "source", F.col("clean").alias("text"))
     .write.mode("append").parquet(store))
    w2.write.mode("append").parquet(src)
    out = incremental_curation_ingest(spark, src, ck, store, **kw)
    batch = c4_clean(d, min_sentences=2).filter(F.col("keep"))
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out.collect()} == \
        {r["source"]: (r["n"], r["ch"]) for r in batch
         .groupBy("source")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.length("clean")).alias("ch")).collect()}
    st = spark.read.parquet(store).select("doc_id")
    assert st.count() == st.distinct().count() == batch.count()
    # recovery completed the ids row with the FULL batch id set:
    # every wave-2 id (keeper or reject) is sidecar-visible, so a
    # later re-delivery fast-paths to a no-op
    side = spark.read.parquet(ids).filter(F.col("__id").isNotNull())
    assert side.select("__id").distinct().count() == 200
    d.write.mode("append").parquet(src)        # full re-delivery
    out2 = incremental_curation_ingest(spark, src, ck, store, **kw)
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out2.collect()} == \
        {r["source"]: (r["n_docs"], r["total_chars"])
         for r in out.collect()}


def test_gate_fingerprint_guard(spark, eng, tmp_path):
    """Gate-config drift guard: re-ingesting a keep-rate state or a
    curated store with CHANGED gate parameters raises (counters
    folded under one threshold must not mix with waves gated under
    another); identical parameters — including a callable classifier
    scorer, fingerprinted by qualname — keep working across runs."""
    from preql_spark.streaming.stream import (
        incremental_curation_ingest, incremental_gate_rate_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "text") \
        .filter(F.col("doc_id") < 60)
    base = tmp_path / "rate"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    d.write.mode("overwrite").parquet(src)
    kw = dict(gate="gopher", min_words=40, min_stop_words=1)
    incremental_gate_rate_ingest(spark, src, ck, st, ids, **kw)
    # same params: fine (replay no-op)
    incremental_gate_rate_ingest(spark, src, ck, st, ids, **kw)
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_gate_rate_ingest(
            spark, src, str(base / "ck2"), st, ids,
            gate="gopher", min_words=30, min_stop_words=1)
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_gate_rate_ingest(
            spark, src, str(base / "ck3"), st, ids, gate="c4")
    base = tmp_path / "cur"
    src, store, ck = (str(base / x) for x in ("src", "store", "ck"))
    d.write.mode("overwrite").parquet(src)
    incremental_curation_ingest(spark, src, ck, store,
                                gate="c4", min_sentences=2)
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_curation_ingest(spark, src, str(base / "ck2"),
                                    store, gate="c4", min_sentences=1)
    # callable scorer: qualname-stable across runs
    def my_scorer(texts):
        return texts.str.len().astype("float64") / 100.0
    base = tmp_path / "clf"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    d.write.mode("overwrite").parquet(src)
    incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                 gate="classifier", scorer=my_scorer)
    incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                 gate="classifier", scorer=my_scorer)
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_gate_rate_ingest(
            spark, src, str(base / "ck2"), st, ids,
            gate="classifier", scorer=my_scorer, threshold=0.9)


def test_gate_fingerprint_guard_columns_and_partial(spark, eng,
                                                    tmp_path):
    """The fingerprint covers the COLUMN BINDINGS too: re-ingesting
    the same state with a changed group_col raises (a different
    grouping folded into the same counters is the silent-mix
    corruption the guard exists for).  And a functools.partial
    scorer fingerprints stably (wrapped qualname + bound args, not a
    memory address): identical partials keep working across runs,
    while a partial re-binding a different scale raises."""
    import functools

    from preql_spark.streaming.stream import (
        incremental_gate_rate_ingest)
    d = eng.t.documents.df.select("doc_id", "source", "lang", "text") \
        .filter(F.col("doc_id") < 60)
    base = tmp_path / "cols"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    d.write.mode("overwrite").parquet(src)
    kw = dict(gate="gopher", min_words=40)
    incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                 group_col="source", **kw)
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_gate_rate_ingest(spark, src, str(base / "ck2"),
                                     st, ids, group_col="lang", **kw)

    def scaled_scorer(texts, scale=100.0):
        return (texts.str.len().astype("float64") / scale).clip(0, 1)

    base = tmp_path / "part"
    src, st, ids, ck = (str(base / x) for x in ("src", "st", "ids", "ck"))
    d.write.mode("overwrite").parquet(src)
    p1 = functools.partial(scaled_scorer, scale=200.0)
    incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                 gate="classifier", scorer=p1)
    # a FRESH but identical partial (new object, same binding): no
    # spurious drift — the r13 str(o) encoding embedded an address
    # and would have raised here on every later run
    incremental_gate_rate_ingest(
        spark, src, ck, st, ids, gate="classifier",
        scorer=functools.partial(scaled_scorer, scale=200.0))
    with pytest.raises(ValueError, match="gate-config drift"):
        incremental_gate_rate_ingest(
            spark, src, str(base / "ck2"), st, ids, gate="classifier",
            scorer=functools.partial(scaled_scorer, scale=500.0))


def test_curation_wave_reads_store_without_inference(spark, tmp_path,
                                                     spark_jobs):
    """A legacy-path curation wave reads its store twice, for the ids
    anti-join and for the report, each typed by the source schema, so
    neither runs a footer-inference job: a wave with its report
    collect starts 6 jobs (8 with inference)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from preql_spark.streaming.stream import incremental_curation_ingest
    src, store, ck = (str(tmp_path / x) for x in ("src", "store", "ck"))
    os.makedirs(src)
    good = "the quick brown fox jumps over {}."

    def wave(w):
        ids = list(range(w * 30, w * 30 + 30))
        text = ["\n".join([good.format(i)] * (3 if i % 2 else 1)
                          + ["too short."]) for i in ids]
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "source": [f"s{i % 3}" for i in ids], "text": text}),
            os.path.join(src, f"w{w}.parquet"))
        return incremental_curation_ingest(spark, src, ck, store,
                                           gate="c4").collect()

    wave(0)
    with spark_jobs() as jobs:
        rep = wave(1)
    assert jobs.n == 6
    assert sum(r.n_docs for r in rep) == 30       # odd ids of 0..59
    assert sum(r.total_chars for r in rep) == sum(
        3 * len(good.format(i)) + 2 for i in range(1, 60, 2))


def test_curation_sidecar_migration_seed(spark, eng, tmp_path):
    """Enabling ids_path on a GROWN legacy curated store (the
    documented migration) must not duplicate documents: the first
    sidecar run seeds the sidecar with the store's distinct id
    column (reserved batch_id -1 epoch), so re-delivered legacy
    keepers are dropped by the sidecar anti-join — in the FIRST
    sidecar epoch and in every later one — and the store stays
    exactly-once; legacy gate-rejects re-gate to rejection and are
    remembered from their next delivery on."""
    from preql_spark.operators.text import c4_clean
    from preql_spark.streaming.stream import incremental_curation_ingest
    src, store, ids, ck = (str(tmp_path / x)
                           for x in ("src", "store", "ids", "ck"))
    d = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50), F.lit(". keep me fine!"),
                 F.when(F.col("doc_id") % 4 == 0,
                        F.lit("\nanother proper sentence right here."))
                 .otherwise(F.lit(""))).alias("text")) \
        .filter(F.col("doc_id") < 200)
    kw = dict(gate="c4", min_sentences=2)
    # legacy era: content-addressed store, no sidecar
    d.filter(F.col("doc_id") < 100).write.mode("overwrite").parquet(src)
    incremental_curation_ingest(spark, src, ck, store, **kw)
    n_legacy = spark.read.parquet(store).count()
    assert n_legacy > 0
    # migration epoch: sidecar on, wave RE-DELIVERS all legacy ids
    # plus new ones — without seeding, every legacy keeper would be
    # re-gated and appended again
    d.write.mode("append").parquet(src)
    out = incremental_curation_ingest(spark, src, ck, store,
                                      ids_path=ids, **kw)
    batch = c4_clean(d, min_sentences=2).filter(F.col("keep"))
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out.collect()} == \
        {r["source"]: (r["n"], r["ch"]) for r in batch
         .groupBy("source")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.length("clean")).alias("ch")).collect()}
    st = spark.read.parquet(store).select("doc_id")
    assert st.count() == st.distinct().count() == batch.count()
    # the seed epoch is visible under the reserved batch_id
    side = spark.read.parquet(ids)
    assert side.filter((F.col("batch_id") == -1)
                       & F.col("__id").isNotNull()).count() == n_legacy
    # a LATER epoch re-delivering a legacy keeper alone: still
    # dropped by the sidecar (the seed is permanent, not first-epoch
    # only)
    d.filter(F.col("doc_id") < 20).write.mode("append").parquet(src)
    out2 = incremental_curation_ingest(spark, src, ck, store,
                                       ids_path=ids, **kw)
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out2.collect()} == \
        {r["source"]: (r["n_docs"], r["total_chars"])
         for r in out.collect()}
    st2 = spark.read.parquet(store).select("doc_id")
    assert st2.count() == st2.distinct().count()


def test_prune_curation_sidecar_store_protected(spark, eng, tmp_path):
    """Pruning a CURATION sidecar with the linked store_path keeps
    stored keepers' ids unconditionally: after a prune that would
    have dropped them, a full re-delivery leaves the curated store
    exactly-once (the r13 watch-item: without protection a
    pruned-then-redelivered keeper was appended AGAIN — a duplicate
    training document).  Gate-reject ids matching the predicate DO
    prune (the retention win), and re-gate deterministically to
    rejection on re-delivery."""
    from preql_spark.operators.text import c4_clean
    from preql_spark.streaming.stream import (
        incremental_curation_ingest, prune_ingest_ids)
    src, store, ids, ck = (str(tmp_path / x)
                           for x in ("src", "store", "ids", "ck"))
    d = eng.t.documents.df.select(
        "doc_id", "source",
        F.concat(F.substring("text", 1, 50), F.lit(". keep me fine!"),
                 F.when(F.col("doc_id") % 4 == 0,
                        F.lit("\nanother proper sentence right here."))
                 .otherwise(F.lit(""))).alias("text")) \
        .filter(F.col("doc_id") < 200)
    kw = dict(gate="c4", ids_path=ids, min_sentences=2)
    d.write.mode("overwrite").parquet(src)
    out = incremental_curation_ingest(spark, src, ck, store, **kw)
    batch = c4_clean(d, min_sentences=2).filter(F.col("keep"))
    keepers = {r["doc_id"] for r in batch.select("doc_id").collect()}
    # prune "everything below 150" — but the store still holds those
    # keepers, so only sub-150 REJECTS may actually go
    kept = prune_ingest_ids(spark, ids, "__id >= 150",
                            store_path=store)
    side = {r["__id"] for r in spark.read.parquet(ids)
            .filter(F.col("__id").isNotNull()).collect()}
    assert {i for i in keepers if i < 150} <= side
    assert not {i for i in side if i < 150} - keepers
    assert kept == len(side) + 1          # + the NULL epoch marker
    # full re-delivery: keepers fast-path to no-ops via the sidecar,
    # pruned rejects re-gate to rejection — store stays exactly-once
    d.write.mode("append").parquet(src)
    out2 = incremental_curation_ingest(spark, src, ck, store, **kw)
    assert {r["source"]: (r["n_docs"], r["total_chars"])
            for r in out2.collect()} == \
        {r["source"]: (r["n_docs"], r["total_chars"])
         for r in out.collect()}
    st = spark.read.parquet(store).select("doc_id")
    assert st.count() == st.distinct().count() == batch.count()


def test_incremental_z_monitor_state_identity(spark, eng, tmp_path):
    """Two-wave z-monitor ingest == batch z_outliers over the full
    corpus BIT-FOR-BIT (shared-tail identity, exact int64 moments);
    the state is literally the quantile ingest's (same sink/guard) —
    the quantile report over the same paths still equals batch
    percentile afterwards; replay is a no-op; the lang builtin
    matches the batch API."""
    from preql_spark.operators.events import z_outliers
    from preql_spark.streaming.stream import (
        incremental_quantile_ingest, incremental_z_monitor_ingest)
    src, st, ids, ck = (str(tmp_path / x)
                        for x in ("src", "state", "ids", "ck"))
    d = eng.t.documents.df.select("doc_id", "source", "text")
    kw = dict(group_col="source", value_expr="length(text)", k=1.5)
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_z_monitor_ingest(spark, src, ck, st, ids, **kw)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_z_monitor_ingest(spark, src, ck, st, ids,
                                       **kw).collect()
    batch = z_outliers(d.withColumn("vv", F.length("text")),
                       "source", "vv", k=1.5).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, batch))
    assert any(r.is_anomaly for r in out)      # k=1.5 actually fires
    assert all(r.z is None for r in out if r.v is None)
    # replay: nothing new, report unchanged
    out2 = incremental_z_monitor_ingest(spark, src, ck, st, ids,
                                        **kw).collect()
    assert sorted(map(tuple, out2)) == sorted(map(tuple, out))
    # the quantile report reads the SAME state (no new data) and
    # still equals batch percentile — the states really are shared
    q = incremental_quantile_ingest(
        spark, src, ck, st, ids, group_col="source",
        value_expr="length(text)").collect()
    qb = (d.groupBy("source")
          .agg(F.count(F.lit(1)).alias("n"),
               F.percentile(F.length("text").cast("long"),
                            F.lit(0.5)).alias("p50"),
               F.percentile(F.length("text").cast("long"),
                            F.lit(0.9)).alias("p90")).collect())
    assert sorted(map(tuple, q)) == sorted(map(tuple, qb))
    # lang parity for the batch operator
    lng = eng.q('z_outliers(zsrc, "source", "vv", k: 1.5)',
                zsrc=d.withColumn("vv", F.length("text"))).collect()
    assert sorted(map(tuple, lng)) == sorted(map(tuple, batch))


def test_z_outliers_guards(spark, eng):
    """The batch operator's contract edges: non-integral value
    column raises, k <= 0 raises, zero-variance and singleton
    groups score NULL z / false flag."""
    from preql_spark.operators.events import z_outliers
    with pytest.raises(TypeError, match="integral"):
        z_outliers(eng.t.events.df, "event_type", "value")
    with pytest.raises(ValueError, match="k must be"):
        z_outliers(eng.t.events.df.select(
            "event_type", F.lit(1).alias("v")), "event_type", "v",
            k=0)
    df = spark.createDataFrame(
        [("a", 5), ("a", 5), ("a", 5), ("b", 9)], "g: string, v: int")
    got = {(r.g, r.v): (r.cnt, r.z, r.is_anomaly)
           for r in z_outliers(df, "g", "v").collect()}
    assert got[("a", 5)] == (3, None, False)   # zero variance
    assert got[("b", 9)] == (1, None, False)   # singleton


def test_incremental_ivf_ingest_completeness_and_pruning(
        spark, eng, tmp_path):
    """Streaming IVF index maintenance: two waves index every vector
    exactly once (per-cell counts sum to the corpus; replay is a
    no-op), exhaustive-probe search over the store equals brute-force
    cosine top-k over the full corpus row-for-row, and a 1-probe
    search prunes the scan to the probed cell DIRECTORY
    (PartitionFilters on __cid)."""
    from preql_spark.operators.similarity import (
        cosine_topk, ivf_build, ivf_topk_from_store)
    from preql_spark.streaming.stream import incremental_ivf_ingest
    e = eng.t.embeddings.df.select("vec_id", "embedding")
    src, idx, ck, ids = (str(tmp_path / x)
                         for x in ("src", "idx", "ck", "ids"))
    _, cents = ivf_build(e.filter(F.col("vec_id") < 250), dim=64,
                         n_centroids=4)
    e.filter(F.col("vec_id") < 250).write.mode("overwrite").parquet(src)
    incremental_ivf_ingest(spark, src, ck, idx, cents, ids_path=ids)
    e.filter(F.col("vec_id") >= 250).write.mode("append").parquet(src)
    rep = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                 ids_path=ids)
    counts = {r.cell: r.n_vectors for r in rep.collect()}
    assert sum(counts.values()) == e.count()   # every vector, once
    # replay: nothing new, per-cell counts unchanged
    rep2 = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                  ids_path=ids)
    assert {r.cell: r.n_vectors for r in rep2.collect()} == counts
    # the sidecar holds exactly the corpus ids, once each (plus the
    # per-epoch NULL markers, invisible to the dedup equi-join)
    sc = spark.read.parquet(ids).filter(F.col("__id").isNotNull())
    assert sc.select("__id").distinct().count() == e.count()
    # exhaustive probes == brute force, row for row
    q = e.filter(F.col("vec_id") < 3)
    got = sorted(tuple(r) for r in ivf_topk_from_store(
        spark, idx, cents, q, k=5, nprobe=len(cents)).collect())
    want = sorted(tuple(r) for r in
                  cosine_topk(e, q, k=5).collect())
    assert got == want
    # selective probes prune to cell directories
    pruned = ivf_topk_from_store(spark, idx, cents, q.limit(1),
                                 k=5, nprobe=1)
    plan = pruned._sc._jvm.PythonSQLUtils.explainString(
        pruned._jdf.queryExecution(), "formatted")
    assert "PartitionFilters" in plan and "__cid" in plan.split(
        "PartitionFilters", 1)[1][:200]


def test_ivf_ids_sidecar_semantics(spark, eng, tmp_path):
    """The ids SIDECAR is the anti-join source on the fast path: an
    id seeded into the sidecar (absent from the index) is skipped —
    the behavioral proof the per-batch dedup reads the sidecar, not
    a full-index listing; in-batch duplicate ids index exactly once
    (the mechanical immutable-id contract); compact_ingest_ids
    collapses the sidecar to ONE file without changing any ingest
    decision; a post-compaction wave ingests only its new ids."""
    import glob
    from preql_spark.operators.similarity import ivf_build
    from preql_spark.streaming.stream import (compact_ingest_ids,
                                              incremental_ivf_ingest)
    e = eng.t.embeddings.df.select("vec_id", "embedding")
    src, idx, ck, ids = (str(tmp_path / x)
                         for x in ("src", "idx", "ck", "ids"))
    base = e.filter(F.col("vec_id") < 100)
    _, cents = ivf_build(base, dim=64, n_centroids=4)
    # seed the sidecar with id 7 BEFORE any ingest: the fast path
    # must treat it as already ingested even though the index has
    # nothing — if the anti-join read the index, 7 would slip in
    spark.createDataFrame(
        [(7, "seed", int(-1))],
        "__id: bigint, run_id: string, batch_id: bigint") \
        .write.mode("overwrite").parquet(ids)
    dirty = base.union(base.filter(F.col("vec_id") < 10))
    dirty.write.mode("overwrite").parquet(src)
    rep = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                 ids_path=ids)
    assert sum(r.n_vectors for r in rep.collect()) == 99
    got = spark.read.parquet(idx).select("__id")
    assert got.count() == got.distinct().count() == 99
    assert got.filter(F.col("__id") == 7).isEmpty()
    # compaction: ONE file; ingest decisions unchanged afterwards
    compact_ingest_ids(spark, ids)
    assert len(glob.glob(f"{ids}/*.parquet")) == 1
    wave2 = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 150))
    base.filter(F.col("vec_id") < 20).union(wave2) \
        .write.mode("append").parquet(src)
    rep2 = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                  ids_path=ids)
    assert sum(r.n_vectors for r in rep2.collect()) == 149
    got2 = spark.read.parquet(idx).select("__id")
    assert got2.count() == got2.distinct().count() == 149


def test_ivf_sidecar_crash_recovery(spark, eng, tmp_path):
    """The intent-store recovery branch, exercised by injecting the
    exact crash state: intent row written and PART of the epoch's
    index rows appended, but no ids row (a crash between the index
    append and the ids append).  The replayed batch must detect the
    intent, fall back to the self-guarding anti-join against the
    index, append ONLY the missing vectors, and complete the ids row
    — no duplicates, no losses, search still equals brute force."""
    from preql_spark.operators.similarity import (
        assign_cells_hof, cosine_topk, ivf_build, ivf_topk_from_store)
    from preql_spark.streaming.stream import incremental_ivf_ingest
    e = eng.t.embeddings.df.select("vec_id", "embedding")
    src, idx, ck, ids = (str(tmp_path / x)
                         for x in ("src", "idx", "ck", "ids"))
    w1 = e.filter(F.col("vec_id") < 100)
    w2 = e.filter((F.col("vec_id") >= 100) & (F.col("vec_id") < 200))
    _, cents = ivf_build(w1, dim=64, n_centroids=4)
    w1.write.mode("overwrite").parquet(src)
    incremental_ivf_ingest(spark, src, ck, idx, cents, ids_path=ids)
    # inject the crash state for the NEXT epoch (batch_id 1): intent
    # row + half of wave 2 already in the index, no ids row
    rid = open(os.path.join(ck, "__ingest_run_id")).read().strip()
    spark.createDataFrame([(rid, 1)], "run_id: string, batch_id: long") \
        .coalesce(1).write.mode("append").parquet(ids + "__intent")
    half = w2.filter(F.col("vec_id") < 150) \
        .select(F.col("vec_id").alias("__id"),
                F.col("embedding").alias("__v"))
    (assign_cells_hof(half, cents).select("__cid", "__id", "__v")
     .write.mode("append").partitionBy("__cid").parquet(idx))
    # deliver wave 2: the sink replays epoch 1 through the recovery
    # branch (intent present, epoch absent from the sidecar)
    w2.write.mode("append").parquet(src)
    rep = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                 ids_path=ids)
    assert sum(r.n_vectors for r in rep.collect()) == 200
    got = spark.read.parquet(idx).select("__id")
    assert got.count() == got.distinct().count() == 200
    # the epoch's ids row completed: a further replay is a pure no-op
    rep2 = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                  ids_path=ids)
    assert sum(r.n_vectors for r in rep2.collect()) == 200
    sc = spark.read.parquet(ids)
    assert sc.filter((F.col("run_id") == rid)
                     & (F.col("batch_id") == 1)).count() > 0
    # recovery must mark the FULL batch id set in the sidecar — the
    # crashed attempt's pre-appended ids (100-149) included, not just
    # the survivors the index anti-join let through — or a LATER
    # epoch re-delivering them would fast-path past the sidecar and
    # re-append duplicates
    marked = {r["__id"] for r in sc.select("__id").collect()}
    assert set(range(100, 150)) <= marked
    w2.filter(F.col("vec_id") < 150).write.mode("append").parquet(src)
    rep3 = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                  ids_path=ids)
    assert sum(r.n_vectors for r in rep3.collect()) == 200
    got3 = spark.read.parquet(idx).select("__id")
    assert got3.count() == got3.distinct().count() == 200
    # intent-store lifecycle: every epoch leaves one intent row;
    # compact_ingest_ids prunes the ones whose epoch committed to
    # the sidecar (ALL of them — the per-epoch NULL marker makes
    # even the all-duplicates epoch 2 sidecar-decidable, so steady
    # state is ZERO intent rows) and the ingest stays healthy
    from preql_spark.streaming.stream import compact_ingest_ids
    assert spark.read.parquet(ids + "__intent").count() > 0
    n = compact_ingest_ids(spark, ids)
    assert n >= 200                     # 200 ids + epoch markers
    sc2 = spark.read.parquet(ids)
    assert sc2.filter(F.col("__id").isNotNull()) \
        .select("__id").distinct().count() == 200
    assert spark.read.parquet(ids + "__intent").count() == 0
    rep4 = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                  ids_path=ids)
    assert sum(r.n_vectors for r in rep4.collect()) == 200
    # completeness end-to-end: exhaustive probes == brute force
    q = e.filter(F.col("vec_id") < 3)
    a = sorted(tuple(r) for r in ivf_topk_from_store(
        spark, idx, cents, q, k=5, nprobe=len(cents)).collect())
    b = sorted(tuple(r) for r in cosine_topk(
        e.filter(F.col("vec_id") < 200), q, k=5).collect())
    assert a == b


def test_compact_partitioned_store_max_file_rows(spark, tmp_path):
    """The mega-cell knob: a partition value over max_file_rows
    splits into ~ceil(n/max) files (bounded: 2..nf with hash-group
    collisions), cells under the cap still compact to ONE file,
    contents stay row-identical per cell — and rows whose partition
    value is NULL (the __HIVE_DEFAULT_PARTITION__ directory) survive
    the salted rewrite (null-safe per-cell count join)."""
    import glob
    from preql_spark.streaming.stream import compact_partitioned_store
    store = str(tmp_path / "store")
    df = spark.range(0, 400).select(
        F.lit(0).alias("__cid"), F.col("id").alias("__id")) \
        .union(spark.range(1000, 1050).select(
            F.lit(1).alias("__cid"), F.col("id").alias("__id"))) \
        .union(spark.range(2000, 2020).select(
            F.lit(None).cast("int").alias("__cid"),
            F.col("id").alias("__id")))
    # write raggedly (several files per cell) to give compaction work
    df.repartition(8).write.mode("overwrite") \
        .partitionBy("__cid").parquet(store)
    n = compact_partitioned_store(spark, store, max_file_rows=100)
    assert n == 470
    big = glob.glob(f"{store}/__cid=0/*.parquet")
    small = glob.glob(f"{store}/__cid=1/*.parquet")
    assert 2 <= len(big) <= 4          # ceil(400/100)=4 groups
    assert len(small) == 1
    got = (spark.read.parquet(store).groupBy("__cid")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("__id").alias("s")).collect())
    m = {r["__cid"]: (r.n, r.s) for r in got}
    assert m[0] == (400, sum(range(400)))
    assert m[1] == (50, sum(range(1000, 1050)))
    assert m[None] == (20, sum(range(2000, 2020)))


def test_prune_ingest_ids_reopens_window(spark, eng, tmp_path):
    """Retention pruning contract, pinned: after pruning ids from
    the store, a source that re-delivers those ids RE-INGESTS them
    (their dedup window re-opened), while kept ids stay deduped; the
    prune rewrites via the checked swap (distinct rows, count
    returned)."""
    from preql_spark.streaming.stream import (
        incremental_z_monitor_ingest, prune_ingest_ids)
    src, st, ids, ck = (str(tmp_path / x)
                        for x in ("src", "state", "ids", "ck"))
    d = eng.t.documents.df.select("doc_id", "source", "text") \
        .filter(F.col("doc_id") < 100)
    kw = dict(group_col="source", value_expr="length(text)", k=3.0)
    d.write.mode("overwrite").parquet(src)
    out = incremental_z_monitor_ingest(spark, src, ck, st, ids, **kw)
    assert out.agg(F.sum("cnt")).collect()[0][0] == 100
    # same docs re-delivered as new files: the ids store dedups all
    d.write.mode("append").parquet(src)
    out2 = incremental_z_monitor_ingest(spark, src, ck, st, ids, **kw)
    assert out2.agg(F.sum("cnt")).collect()[0][0] == 100
    # prune half the ids -> their window re-opens
    assert prune_ingest_ids(spark, ids, "doc_id >= 50") == 50
    d.write.mode("append").parquet(src)
    out3 = incremental_z_monitor_ingest(spark, src, ck, st, ids, **kw)
    assert out3.agg(F.sum("cnt")).collect()[0][0] == 150
    # the re-ingested ids are back in the store: another replay of
    # the SAME rows now dedups everything again
    d.write.mode("append").parquet(src)
    out4 = incremental_z_monitor_ingest(spark, src, ck, st, ids, **kw)
    assert out4.agg(F.sum("cnt")).collect()[0][0] == 150


def test_cross_session_compaction_lock(spark, eng, tmp_path):
    """The stopped-stream compaction contract is mechanical ACROSS
    sessions: a fresh ``__compact_lock`` sentinel (what another
    session's live compactor holds) makes a second session's
    compaction AND any ingest against the store refuse loudly; a
    STALE lock (crashed holder) is broken and the compaction
    proceeds, deleting the lock on completion."""
    import time

    from preql_spark.operators.similarity import ivf_build
    from preql_spark.streaming.stream import (
        COMPACTION_LOCK_STALE_S, _lock_file, compact_ingest_ids,
        incremental_ivf_ingest)
    ids = str(tmp_path / "ids")
    spark.createDataFrame(
        [(9001, "r", 0), (9002, "r", 0), (9002, "r", 1)],
        "__id: bigint, run_id: string, batch_id: bigint") \
        .write.mode("overwrite").parquet(ids)
    # a FOREIGN session's live compactor: fresh lock on disk
    lock = _lock_file(ids)
    with open(lock, "w") as f:
        f.write(str(int(time.time() * 1000)))
    other = spark.newSession()          # a second SparkSession
    with pytest.raises(RuntimeError, match="lock.*held"):
        compact_ingest_ids(other, ids)
    # ingests against the locked store refuse too (the guard runs
    # before the stream starts, so this raises immediately)
    e = eng.t.embeddings.df.select("vec_id", "embedding").limit(20)
    src, idx, ck = (str(tmp_path / x) for x in ("src", "idx", "ck"))
    e.write.mode("overwrite").parquet(src)
    _, cents = ivf_build(e, dim=64, n_centroids=2)
    with pytest.raises(RuntimeError, match="lock.*held"):
        incremental_ivf_ingest(other, src, ck, idx, cents,
                               ids_path=ids)
    # STALE lock (holder crashed long ago): broken, compaction runs,
    # lock removed on completion.  Staleness keys on the FILESYSTEM's
    # mtime (the one clock all sessions share), not the stamped
    # content — backdate the mtime the way a crashed holder's lock
    # actually ages
    old_ts = time.time() - COMPACTION_LOCK_STALE_S - 10
    with open(lock, "w") as f:
        f.write(str(int(old_ts * 1000)))
    os.utime(lock, (old_ts, old_ts))
    n = compact_ingest_ids(other, ids)
    assert n == 3 and not os.path.exists(lock)
    # and the unlocked store ingests fine afterwards
    rep = incremental_ivf_ingest(spark, src, ck, idx, cents,
                                 ids_path=ids)
    assert sum(r.n_vectors for r in rep.collect()) == 20


def test_compact_partitioned_store_one_file_per_cell(
        spark, eng, tmp_path):
    """The IVF store accumulates one file per (batch, touched cell);
    compact_partitioned_store rewrites each cell directory as ONE
    file with contents row-identical — per-cell counts and an
    exhaustive search are unchanged — and the stop-lock applies."""
    import glob
    from preql_spark.operators.similarity import (
        ivf_build, ivf_topk_from_store)
    from preql_spark.streaming.stream import (
        compact_partitioned_store, incremental_ivf_ingest)
    e = eng.t.embeddings.df.select("vec_id", "embedding")
    src, idx, ck = (str(tmp_path / x) for x in ("src", "idx", "ck"))
    _, cents = ivf_build(e.filter(F.col("vec_id") < 250), dim=64,
                         n_centroids=4)
    e.filter(F.col("vec_id") < 250).write.mode("overwrite").parquet(src)
    incremental_ivf_ingest(spark, src, ck, idx, cents)
    e.filter(F.col("vec_id") >= 250).write.mode("append").parquet(src)
    rep = incremental_ivf_ingest(spark, src, ck, idx, cents)
    counts = {r.cell: r.n_vectors for r in rep.collect()}
    q = e.filter(F.col("vec_id") < 3)
    before = sorted(tuple(r) for r in ivf_topk_from_store(
        spark, idx, cents, q, k=5, nprobe=len(cents)).collect())
    cells = [d for d in glob.glob(f"{idx}/__cid=*")]
    assert cells and any(
        len(glob.glob(f"{d}/*.parquet")) >= 2 for d in cells), \
        "two waves should leave >= 2 files in some cell"
    n = compact_partitioned_store(spark, idx)
    assert n == sum(counts.values())
    for d in glob.glob(f"{idx}/__cid=*"):
        assert len(glob.glob(f"{d}/*.parquet")) == 1
    after = sorted(tuple(r) for r in ivf_topk_from_store(
        spark, idx, cents, q, k=5, nprobe=len(cents)).collect())
    assert after == before
    # counts via another ingest run (replay: no new data) unchanged
    rep2 = incremental_ivf_ingest(spark, src, ck, idx, cents)
    assert {r.cell: r.n_vectors for r in rep2.collect()} == counts
    # the stop-lock is shared with the other compactors
    qy = (spark.readStream.format("rate").option("rowsPerSecond", 1)
          .load().writeStream.format("memory")
          .queryName("t_pstore_guard").start())
    try:
        with pytest.raises(RuntimeError, match="STOPPED"):
            compact_partitioned_store(spark, idx)
    finally:
        qy.stop()


def test_compact_hll_state_preserves_report(spark, eng, tmp_path):
    """Compacting the HLL sketch state (union per group) leaves the
    next report identical — sketch union is idempotent, so this is
    the safest compaction of the family."""
    from preql_spark.streaming.stream import (compact_ingest_state,
                                              incremental_hll_ingest)
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    ck = str(tmp_path / "ck")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_hll_ingest(spark, src, ck, st, ids)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    before = {(r.source, r.n_distinct_approx) for r in
              incremental_hll_ingest(spark, src, ck, st, ids).collect()}
    n = compact_ingest_state(spark, st, kind="hll")
    assert n == len(before)
    after = {(r.source, r.n_distinct_approx) for r in
             incremental_hll_ingest(spark, src, ck, st, ids).collect()}
    assert after == before


def test_quantile_ingest_survives_fresh_checkpoint(spark, eng,
                                                   tmp_path):
    """A recreated checkpoint restarts epochs at 0; the (run_id,
    batch_id) guard must still fold the NEW wave instead of
    mistaking it for a replay of old epoch 0 (the review-found
    failure of a bare batch_id guard)."""
    from preql_spark.streaming.stream import incremental_quantile_ingest
    src = str(tmp_path / "src")
    st = str(tmp_path / "state")
    ids = str(tmp_path / "ids")
    d = eng.t.documents.df.select("doc_id", "source", "text")
    expr = r"size(split(trim(text), '\\s+'))"
    d.filter(F.col("doc_id") < 250).write.mode("overwrite").parquet(src)
    incremental_quantile_ingest(spark, src, str(tmp_path / "ck1"),
                                st, ids, value_expr=expr)
    d.filter(F.col("doc_id") >= 250).write.mode("append").parquet(src)
    out = incremental_quantile_ingest(
        spark, src, str(tmp_path / "ck2"),   # FRESH checkpoint
        st, ids, value_expr=expr)
    one = {(r.source, r.n, r.p50, r.p90) for r in
           d.select("source", F.expr(expr).cast("long").alias("v"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.percentile("v", F.lit(0.5)).alias("p50"),
                 F.percentile("v", F.lit(0.9)).alias("p90"))
            .collect()}
    assert {(r.source, r.n, r.p50, r.p90)
            for r in out.collect()} == one
    assert (spark.read.parquet(st)
            .select("run_id").distinct().count() == 2)


def test_source_schema_pin_atomic_and_recoverable(spark, tmp_path):
    """r15 hardening of the checkpoint schema pin: (a) the marker is
    written atomically (temp + rename — no ``.tmp`` stranded, marker
    parseable); (b) a truncated/corrupt marker from a pre-atomic
    crash falls back to re-infer + re-pin instead of raising forever;
    (c) a caller-provided schema skips the infer, but an EXISTING
    marker still wins — the pin is the contract, the argument is only
    the infer shortcut."""
    from pyspark.sql import types as T

    from preql_spark.streaming.stream import _source_schema

    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck")
    spark.range(5).select(
        F.col("id").alias("doc_id"), F.lit("x").alias("text")
    ).write.mode("overwrite").parquet(src)

    # (a) first call pins atomically
    got = _source_schema(spark, src, ck)
    assert [f.name for f in got.fields] == ["doc_id", "text"]
    marker = os.path.join(ck, "__source_schema")
    assert os.path.exists(marker)
    assert not os.path.exists(marker + ".tmp")
    import json
    json.loads(open(marker).read())  # parseable

    # (b) corrupt the marker (simulated mid-write crash of the old
    # non-atomic writer): next call re-infers and re-pins
    open(marker, "w").write('{"type":"struct","fie')
    got2 = _source_schema(spark, src, ck)
    assert got2 == got
    json.loads(open(marker).read())  # re-pinned, parseable again

    # (c) caller schema skips the infer on a FRESH checkpoint...
    ck2 = str(tmp_path / "ck2")
    handed = T.StructType([T.StructField("doc_id", T.LongType()),
                           T.StructField("text", T.StringType())])
    got3 = _source_schema(spark, "/nonexistent/never/read", ck2,
                          schema=handed)
    assert got3 == handed
    # ...but an existing marker wins over a conflicting argument
    drifted = T.StructType([T.StructField("other", T.IntegerType())])
    got4 = _source_schema(spark, "/nonexistent/never/read", ck2,
                          schema=drifted)
    assert got4 == handed


@pytest.mark.parametrize("ingest", ["quantile", "gate_rate"])
def test_raising_sink_leaves_no_cache(spark, eng, tmp_path, ingest):
    """A fold that raises at run time, after the sink has persisted
    its batch, fails the ingest loudly and leaves nothing registered:
    the CacheManager is empty and no persistent RDD is added."""
    from pyspark.errors import StreamingQueryException

    from preql_spark.streaming.stream import (
        incremental_gate_rate_ingest, incremental_quantile_ingest)
    src, st, ids, ck = (str(tmp_path / x)
                        for x in ("src", "st", "ids", "ck"))
    eng.t.documents.df.select("doc_id", "source", "text") \
        .write.mode("overwrite").parquet(src)
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    rdds_before = set(jsc.getPersistentRDDs().keySet())
    boom = "raise_error('boom')"
    with pytest.raises(StreamingQueryException, match="boom"):
        if ingest == "quantile":
            incremental_quantile_ingest(spark, src, ck, st, ids,
                                        value_expr=boom)
        else:
            incremental_gate_rate_ingest(spark, src, ck, st, ids,
                                         gate="gopher",
                                         min_words=F.expr(boom))
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert set(jsc.getPersistentRDDs().keySet()) <= rdds_before
