"""Mutable tables — the reference's DML surface (SURVEY.md §2.10) on
immutable storage.

Reference semantics being reproduced:
- ``new Table(args)`` single-row insert returning the new row with a
  generated ``id`` (evaluate.py:884-947)
- ``new[] Table(rows)`` / ``t += expr`` bulk insert with column
  alignment, excluding the read-only pk (evaluate.py:809-847, :277-287)
- ``t[conds] update {col: expr}`` (evaluate.py:756-806)
- ``t delete [conds]`` (evaluate.py:720-754)
- auto-increment ``id`` pk unless ``bare`` (evaluate.py:262-267)

Implementation: copy-on-write parquet versions (v0, v1, ... under a
managed directory).  Each mutation writes a new complete version and
atomically advances the current pointer — the plain-parquet analogue
of Delta/Iceberg snapshots (which is what you'd use on a real
cluster).  Multi-statement ``transaction {...}`` blocks are supported
via version pinning (see :func:`transaction`); documented divergence:
single-writer assumption — concurrent writers need a real table
format's commit protocol.

Id generation: ``max(id) + per-partition offsets`` over the inserted
batch — the same two-pass pattern as ``Table._enum_distributed``
(count rows per partition, broadcast cumulative offsets, per-partition
row_number), so a large ``t += expr`` backfill never funnels through a
single-partition global window.  The reference punts on distributed id
generation entirely (returns null ids on bigquery/snowflake,
evaluate.py:910-911).
"""

from __future__ import annotations

import os
import shutil
import threading
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import (Column, DataFrame, Observation, Row, SparkSession,
                         Window)
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _local_frame(spark: SparkSession, rows: list,
                 schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; a DDL string or a
    ``StructType``) as a ``LocalRelation``.
    ``createDataFrame(list, schema)`` builds a Python RDD in classic
    PySpark, so every action on it runs a Python-worker job; an Arrow
    table becomes a ``LocalRelation`` whose collect runs none.  The
    values first pass Spark's own verifier (same ``PySparkTypeError``
    for a wrong-typed value), then Spark Connect's list-to-Arrow
    conversion, which keeps classic's value semantics (naive
    timestamps as local time, decimal rounding, nested types)."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    table = (LocalDataToArrowConversion.convert(rows, schema, False)
             if rows else to_arrow_schema(schema).empty_table())
    return spark.createDataFrame(table, schema)


def _observed_n(obs: Observation, recount) -> int:
    """The ``n`` metric ``obs`` carried through a write, or
    ``recount()`` when the optimizer pruned the observation with its
    subtree: a delete predicate that folds to TRUE turns the kept-rows
    filter into an empty relation, and ``obs.get`` then fails."""
    try:
        return obs.get["n"]
    except Py4JJavaError:
        return recount()


def _assign_ids(df: DataFrame, id_col: str, base: int) -> DataFrame:
    return _assign_ids_counted(df, id_col, base)[0]


def _assign_ids_counted(df: DataFrame, id_col: str,
                        base: int) -> tuple[DataFrame, int]:
    """Prepend unique sequential longs ``base, base+1, ...`` to ``df``
    without a global single-partition window: freeze partition ids,
    count rows per partition (one small job), then per-partition
    row_number + broadcast cumulative offsets.  Parallel at any batch
    size; ids are dense but their order across partitions is the
    partition order, which the reference does not promise either.
    Also returns the batch row count (already computed for the
    offsets), letting callers maintain an id watermark without a
    second job."""
    cols = df.columns
    tagged = df.withColumn("__pid", F.spark_partition_id()) \
        .localCheckpoint(eager=False)
    counts = tagged.groupBy("__pid").count().collect()
    offsets, acc = {}, 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["count"]
    if not offsets:
        offsets = {0: 0}   # empty batch: keep the map int-typed
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv])
    w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
    out = tagged.withColumn(
        id_col,
        (F.row_number().over(w).cast("long") - 1
         + omap[F.col("__pid")] + F.lit(base)))
    return out.select(id_col, *cols), acc


def _locked(fn):
    """Serialize a DML method on the table's lock (see ``_lock``)."""
    def wrap(self, *a, **kw):
        with self._lock:
            return fn(self, *a, **kw)
    wrap.__name__ = fn.__name__
    wrap.__doc__ = fn.__doc__
    return wrap


class MutableTable:
    """A named, persisted, mutable table with an auto-increment pk."""

    def __init__(self, spark: SparkSession, name: str, root: str,
                 id_col: str = "id"):
        self.spark = spark
        self.name = name
        self.root = os.path.join(root, name)
        self.id_col = id_col
        # set while a transaction() is open: the version to keep (and
        # roll back to) — suspends version GC
        self._pin: int | None = None
        # serializes the read-base → assign-ids → write-version
        # critical section so concurrent DML from driver threads never
        # loses an insert or duplicates an id (reference test_threading
        # runs 10 writer threads).  Driver-side only by design: this
        # single-writer model is the documented divergence from a real
        # multi-writer table format (Delta/Iceberg OCC).
        self._lock = threading.RLock()
        # last committed version (reference commit()/rollback(),
        # __builtins__.pql:176-189): creation state is the implicit
        # first commit point; GC never collects the marked version
        self._mark: int = 0
        # driver-side caches, all owned by the same single-writer
        # lock as the version lineage: the resolved reader handle for
        # the current version (a parquet read re-resolves the footer
        # on every df() call — ~0.2 s of driver work that the DML
        # paths each paid 3x per statement) and the id watermark
        # (saves a full-table max(id) job per insert; at scale that
        # job reads every footer).  Invalidated on every version
        # change; the watermark is maintained exactly only on the
        # insert_rows path, where the batch is a local list.  Third,
        # the schema the first read inferred: a reader without one
        # runs a one-task footer job per version, a reader with one
        # none.  It survives writes whose (name, type) list equals it
        # and is dropped by any other write (the unionByName widening
        # path) and by rollback.
        self._df_cache: DataFrame | None = None
        self._df_cache_key: tuple | None = None
        self._max_id_cache: int | None = None
        self._schema: T.StructType | None = None
        os.makedirs(self.root, exist_ok=True)

    # ---- versioning ------------------------------------------------
    def _versions(self) -> list[int]:
        return sorted(int(d[1:]) for d in os.listdir(self.root)
                      if d.startswith("v") and d[1:].isdigit())

    def _current_path(self) -> str | None:
        vs = self._versions()
        return os.path.join(self.root, f"v{vs[-1]}") if vs else None

    def _table_bytes(self) -> int:
        """On-disk bytes of the current version (driver-owned dir)."""
        path = self._current_path()
        if path is None:
            return 0
        return sum(e.stat().st_size for e in os.scandir(path)
                   if e.is_file())

    # target output-file size for version writes (guide: 128 MB-1 GB
    # parquet files); versions smaller than this compact to one file
    _TARGET_FILE_BYTES = 128 * 1024 * 1024

    def _write_version(self, df: DataFrame,
                       compact: bool = False) -> None:
        """``compact=True`` coalesces the write to ceil(table bytes /
        128 MB) tasks — callers set it when the output is known to be
        roughly current-table-sized (insert of a local batch, update,
        delete), where per-tiny-file write tasks + commit renames
        otherwise dominate.  A no-op at scale: coalesce only ever
        REDUCES partitions, so a table with many 128 MB files keeps
        its parallelism.  Not used for insert_from/merge, whose source
        size is unknown to the driver."""
        vs = self._versions()
        nxt = (vs[-1] + 1) if vs else 0
        target = os.path.join(self.root, f"v{nxt}")
        if compact:
            nparts = max(1, -(-self._table_bytes() // self._TARGET_FILE_BYTES))
            df = df.coalesce(nparts)
        df.write.mode("overwrite").parquet(target)
        self._written(df.schema)
        # retain the latest four versions: lazily-held reader handles
        # (df() is lazy) must survive a few subsequent writes before
        # they execute (real deployments use Delta/Iceberg snapshot
        # GC).  An open transaction pins its start version: GC is
        # suspended so rollback can restore it.
        if self._pin is None:
            for v in vs[:-3]:
                if v == self._mark:
                    continue           # rollback target stays restorable
                shutil.rmtree(os.path.join(self.root, f"v{v}"),
                              ignore_errors=True)

    def _written(self, schema: T.StructType) -> None:
        """A write of ``schema``-typed rows landed in the current
        version: drop the cached reader handle (version numbers can be
        REUSED after a transaction rollback, so a path-keyed cache
        alone would serve deleted files), and the kept schema unless
        the write's (name, type) list equals it."""
        self._df_cache = None
        self._df_cache_key = None
        if self._schema is not None and (
                [(f.name, f.dataType) for f in schema.fields]
                != [(f.name, f.dataType) for f in self._schema.fields]):
            self._schema = None

    # ---- DDL -------------------------------------------------------
    @classmethod
    def create(cls, spark: SparkSession, name: str, root: str,
               schema: T.StructType | str, bare: bool = False,
               id_col: str = "id") -> "MutableTable":
        """``table Foo {...}`` DDL — auto-id pk prepended unless bare."""
        t = cls(spark, name, root, id_col=id_col)
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        if not bare and id_col not in [f.name for f in schema.fields]:
            schema = T.StructType(
                [T.StructField(id_col, T.LongType(), False)] + list(schema.fields))
        t._write_version(spark.createDataFrame([], schema))
        return t

    @classmethod
    def from_expr(cls, spark: SparkSession, name: str, root: str,
                  df: DataFrame, const: bool = False,
                  id_col: str = "id") -> "MutableTable":
        """CTAS ``table foo = expr`` (evaluate.py:177-185): materialize;
        ``const=True`` keeps existing ids (new_table_from_expr)."""
        t = cls(spark, name, root, id_col=id_col)
        if not const and id_col not in df.columns:
            df = _assign_ids(df, id_col, base=1)
        t._write_version(df)
        return t

    # ---- read ------------------------------------------------------
    def df(self) -> DataFrame:
        # Under the table lock: version GC (inside _write_version,
        # same lock) could otherwise delete the listed path between
        # the listdir and the parquet footer read — observed as a
        # flaky PATH_NOT_FOUND in the ported threading test when 10
        # writer threads churn versions under CPU contention.
        with self._lock:
            path = self._current_path()
            if path is None:
                raise ValueError(f"table {self.name} has no data")
            if self._df_cache is not None and self._df_cache_key == path:
                return self._df_cache
            if self._schema is None:
                out = self.spark.read.parquet(path)
                self._schema = out.schema
            else:
                out = self.spark.read.schema(self._schema).parquet(path)
            self._df_cache, self._df_cache_key = out, path
            return out

    # ---- DML -------------------------------------------------------
    def _next_id_base(self, cur: DataFrame | None = None) -> int:
        if self._max_id_cache is not None:
            return self._max_id_cache + 1
        cur = cur if cur is not None else self.df()
        row = cur.agg(F.max(self.id_col).alias("m")).collect()[0]
        # first id is 1, like the reference's sqlite autoincrement
        # (docs/tutorial.md shows Country ids starting at 1)
        return (row.m if row.m is not None else 0) + 1

    def new(self, **values) -> Row:
        """Single-row insert; returns the inserted row with fresh id."""
        rows = self.insert_rows([values])
        return rows[0]

    # ---- append-delta insert path -----------------------------------
    # An insert only ADDS rows, so rewriting the whole table per
    # insert (the v0..vN copy-on-write) is O(table) work for an
    # O(batch) change — at scale that is rewriting the entire table to
    # add a handful of rows.  When no transaction is open and the
    # current version is NOT the rollback target (_mark), the batch is
    # instead appended as extra parquet files inside the current
    # version directory: rollback() still discards the whole version,
    # lazily-held df() handles keep their frozen file list (same
    # snapshot semantics as before), and readers under the lock see
    # the append atomically (the cached handle is dropped).  A
    # copy-on-write still happens for the FIRST insert after create/
    # commit (opening a fresh version to protect the rollback target)
    # and for every statement inside an open transaction.

    def _can_append(self) -> bool:
        vs = self._versions()
        return self._pin is None and bool(vs) and vs[-1] > self._mark

    # types whose Spark-collected Python values round-trip exactly
    # through pyarrow without coercion ambiguity; anything else takes
    # the Spark writer
    _PA_SAFE = (T.LongType, T.IntegerType, T.ShortType, T.ByteType,
                T.DoubleType, T.FloatType, T.StringType, T.BooleanType,
                T.DateType)

    def _append_batch(self, batch: DataFrame, rows: list[Row],
                      schema: T.StructType) -> None:
        """Append the batch's rows as new file(s) inside the current
        version dir.  Simple-typed batches are written driver-side
        with pyarrow (zero Spark jobs — the values are the
        Spark-verified ones from the LocalRelation collect); anything
        else goes through a one-task Spark write into a temp dir whose
        part files are then moved in."""
        import uuid
        cur_path = self._current_path()
        tag = uuid.uuid4().hex[:12]
        if all(isinstance(f.dataType, self._PA_SAFE) for f in schema.fields):
            try:
                import pyarrow as pa
                import pyarrow.parquet as pq
                from pyspark.sql.pandas.types import to_arrow_schema
                aschema = to_arrow_schema(schema)
                arrays = [
                    pa.array([r[i] for r in rows], type=aschema.field(i).type)
                    for i in range(len(schema.fields))]
                tmp = os.path.join(cur_path, f".append-{tag}.parquet.tmp")
                pq.write_table(pa.Table.from_arrays(arrays, schema=aschema),
                               tmp)
                os.rename(tmp,
                          os.path.join(cur_path, f"append-{tag}.parquet"))
                self._written(schema)
                return
            except Exception:
                pass   # fall through to the Spark writer
        self._append_df(batch.coalesce(1))

    def _append_df(self, df: DataFrame) -> None:
        """Spark-writer append: write ``df`` to a temp dir, move its
        part files into the current version.  The write keeps the
        frame's own partitioning — a distributed ``t += expr`` batch
        appends in parallel and never rewrites the existing table."""
        import uuid
        cur_path = self._current_path()
        tag = uuid.uuid4().hex[:12]
        tmpdir = os.path.join(self.root, f".append-{tag}")
        df.write.mode("overwrite").parquet(tmpdir)
        for f in os.listdir(tmpdir):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmpdir, f),
                          os.path.join(cur_path, f"append-{tag}-{f}"))
        shutil.rmtree(tmpdir, ignore_errors=True)
        self._written(df.schema)

    @_locked
    def insert_rows(self, rows: list[dict]) -> list[Row]:
        """Bulk ``new[]`` — vectorized (the reference loops row-at-a-
        time and flags it "very inefficient", evaluate.py:841).  Ids
        are assigned driver-side by enumeration: the input IS a local
        Python list, so this costs zero Spark jobs and preserves the
        reference's insertion-order id sequence.  On the append path
        the whole statement starts no Spark job."""
        cur = self.df()
        base = self._next_id_base(cur)
        data_schema = T.StructType(
            [f for f in cur.schema.fields if f.name != self.id_col])
        full_schema = T.StructType(
            [T.StructField(self.id_col, T.LongType(), False)]
            + list(data_schema.fields))
        # the batch is a LocalRelation (verified driver-side, built
        # from Arrow): collect() is pure driver-side (no job) and
        # returns Spark's coerced values
        batch = _local_frame(
            self.spark,
            [(base + i, *(r.get(f.name) for f in data_schema.fields))
             for i, r in enumerate(rows)],
            full_schema)
        out = batch.collect()
        # append only when the stored id column is already long —
        # otherwise the copy-on-write union's type widening applies
        if (self._can_append()
                and isinstance(cur.schema[self.id_col].dataType
                               if self.id_col in cur.columns else None,
                               T.LongType)):
            self._append_batch(batch, out, full_schema)
        else:
            self._write_version(cur.unionByName(batch), compact=True)
        self._max_id_cache = base + len(rows) - 1
        return out

    @_locked
    def insert_from(self, src: DataFrame) -> None:
        """``t += expr`` — INSERT...SELECT with column auto-alignment,
        pk excluded and regenerated (evaluate.py:135-170).  Id
        assignment stays parallel (per-partition offsets, no global
        window) so a 100 TB backfill doesn't serialize."""
        cur = self.df()
        base = self._next_id_base(cur)
        cols = [c for c in cur.columns if c != self.id_col]
        batch, n = _assign_ids_counted(src.select(*cols), self.id_col, base)
        # O(batch) append instead of an O(table) rewrite — at scale
        # this is the difference between writing the new rows and
        # rewriting the entire table per insert.  Only when the batch
        # column types already equal the stored ones: unionByName in
        # the copy-on-write path coerces to common types (possibly
        # widening the table schema), which an append cannot express.
        aligned = batch.select(*cur.columns)
        if self._can_append() and dict(aligned.dtypes) == dict(cur.dtypes):
            self._append_df(aligned)
        else:
            self._write_version(cur.unionByName(batch))
        self._max_id_cache = base + n - 1

    @_locked
    def update(self, cond, count: bool = True, _cur: DataFrame | None = None,
               **sets) -> int:
        """``t[conds] update {col: expr}`` — copy-on-write MERGE shape.
        Returns the number of updated rows (rows where ``cond`` is
        TRUE; NULL predicates update nothing, like SQL), counted by an
        ``Observation`` that rides on the version write, so no extra
        job runs.  ``count=False`` attaches none and returns -1.
        ``_cur`` lets a caller that built ``cond`` against a specific
        read of the table pass that exact DataFrame (column
        expressions resolve by attribute id in Spark)."""
        cur = _cur if _cur is not None else self.df()
        src = cur
        if count:
            obs = Observation()
            src = cur.observe(obs, F.count_if(cond).alias("n"))
        updated = src.withColumns(
            {k: F.when(cond, v if isinstance(v, Column) else F.lit(v))
             .otherwise(F.col(k)) for k, v in sets.items()})
        self._write_version(updated, compact=True)
        if self.id_col in sets:
            self._max_id_cache = None
        return (_observed_n(obs, lambda: cur.filter(cond).count())
                if count else -1)

    @_locked
    def merge(self, src: DataFrame, on: list[str] | str,
              counts: bool = True) -> dict:
        """Upsert (Delta/Iceberg MERGE INTO shape, beyond the
        reference's DML): rows of ``src`` matching on ``on`` replace
        the current rows' non-key columns; unmatched src rows are
        inserted with fresh ids.  One copy-on-write version write;
        matching is a single full-outer-free plan (anti + semi joins
        on the keys).  Like Delta/Iceberg MERGE, raises if ``src``
        contains duplicate key values (the matched join would fan out
        and silently duplicate target rows).  Returns
        {"updated": n, "inserted": n}; ``counts=False`` skips the two
        count jobs (returns -1s)."""
        keys = [on] if isinstance(on, str) else list(on)
        cur = self.df()
        data_cols = [c for c in cur.columns if c != self.id_col]
        upd_cols = [c for c in data_cols
                    if c in src.columns and c not in keys]
        src = src.select(*keys, *upd_cols).localCheckpoint(eager=False)
        dup = (src.groupBy(*keys).count()
               .filter(F.col("count") > 1).limit(1).collect())
        if dup:
            kv = {k: dup[0][k] for k in keys}
            raise ValueError(
                f"merge source has multiple rows for key {kv}; "
                "deduplicate src on the merge keys first")
        kept = cur.join(src.select(*keys), keys, "left_anti")
        matched = (cur.alias("t").join(src.alias("s"), keys)
                   .select(F.col(f"t.{self.id_col}").alias(self.id_col),
                           *keys,
                           *[(F.col(f"s.{c}") if c in upd_cols
                              else F.col(f"t.{c}")).alias(c)
                             for c in data_cols if c not in keys]))
        n_upd = matched.count() if counts else -1
        fresh = src.join(cur.select(*keys), keys, "left_anti")
        base = self._next_id_base(cur)
        # the id-assignment pass already counts the fresh rows — that
        # count IS "inserted", so the separate fresh.count() job goes
        inserted, n_fresh = _assign_ids_counted(
            fresh.select(
                *keys, *upd_cols,
                *[F.lit(None).cast(cur.schema[c].dataType).alias(c)
                  for c in data_cols if c not in keys and c not in upd_cols]
            ).select(*data_cols),
            self.id_col, base)
        n_ins = n_fresh if counts else -1
        out = (kept.select(self.id_col, *data_cols)
               .unionByName(matched.select(self.id_col, *data_cols))
               .unionByName(inserted))
        self._write_version(out)
        self._max_id_cache = base + n_fresh - 1
        return {"updated": n_upd, "inserted": n_ins}

    @_locked
    def delete(self, cond, count: bool = True,
               _cur: DataFrame | None = None) -> int:
        """``t delete [conds]`` — filtered overwrite.  Deletes only
        rows where the predicate is TRUE: rows where it evaluates NULL
        are KEPT (``~cond`` alone would drop them — NULL negated is
        NULL), matching SQL/reference DELETE.  Returns rows deleted,
        counted by an ``Observation`` on the rewrite (no extra job);
        ``count=False`` attaches none and returns -1."""
        cur = _cur if _cur is not None else self.df()
        hit = cond if isinstance(cond, Column) else F.expr(cond)
        kill = hit.eqNullSafe(True)
        src = cur
        if count:
            obs = Observation()
            src = cur.observe(obs, F.count_if(kill).alias("n"))
        self._write_version(src.filter(~kill), compact=True)
        # deleting the max-id row must re-open its id for reuse
        # (max(id)+1 semantics) — recompute lazily
        self._max_id_cache = None
        return (_observed_n(obs, lambda: cur.filter(hit).count())
                if count else -1)


def _rollback_to(t: MutableTable, version: int | None) -> None:
    with t._lock:
        for v in t._versions():
            if version is None or v > version:
                shutil.rmtree(os.path.join(t.root, f"v{v}"),
                              ignore_errors=True)
        # current version changed out from under the caches
        t._df_cache = None
        t._df_cache_key = None
        t._max_id_cache = None
        t._schema = None


def _gc(t: MutableTable) -> None:
    vs = t._versions()
    for v in vs[:-2]:
        shutil.rmtree(os.path.join(t.root, f"v{v}"), ignore_errors=True)


@contextmanager
def transaction(*tables: MutableTable):
    """Reference ``transaction {...}`` semantics (evaluate.py:358-369):
    mutations inside the block commit together at block exit; any
    exception rolls every table back to its pre-transaction version.

    The copy-on-write versioning makes this nearly free: BEGIN pins
    each table's current version (suspending GC), ROLLBACK deletes the
    versions written since, COMMIT just unpins and GCs.  Single-writer
    semantics, like the rest of MutableTable — concurrent writers need
    a real table format (Delta/Iceberg), the documented divergence.
    """
    pins: dict[MutableTable, int | None] = {}
    for t in tables:
        vs = t._versions()
        t._pin = vs[-1] if vs else None
        pins[t] = t._pin
    try:
        yield
    except BaseException:
        for t, v in pins.items():
            _rollback_to(t, v)
        raise
    finally:
        for t in pins:
            t._pin = None
            _gc(t)
