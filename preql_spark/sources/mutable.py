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

Implementation: parquet versions (v0, v1, ... under a managed
directory), the plain-parquet analogue of Delta/Iceberg snapshots
(which is what you'd use on a real cluster).  ``update``, ``delete``
and ``merge`` write a new complete version (copy-on-write); an insert
appends files to the current version unless that version is the
commit mark or a transaction is open, when it too writes a new
version.  One owner per lifecycle decision:

- retention, :meth:`MutableTable._retain`: keep the newest four
  versions and the commit mark; delete nothing while a transaction
  pins the table;
- invalidation, :meth:`MutableTable._moved`: every version change
  drops the reader handle, a type change or rollback drops the kept
  schema, and each write states the new id watermark (``delete``
  reads it from the observation that counts its rows);
- appends, :meth:`MutableTable._appendable`: one eligibility check
  for both insert paths;
- commit points, :meth:`MutableTable.commit` and
  :meth:`MutableTable.rollback`.

Multi-statement ``transaction {...}`` blocks are supported via
version pinning (see :func:`transaction`); documented divergence:
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
import uuid
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql import (Column, DataFrame, Observation, Row, SparkSession,
                         Window)
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _arrow_rows(rows: list, schema: T.StructType):
    """``rows`` (tuples in ``schema`` order) as a ``pyarrow.Table``.
    The values first pass Spark's own verifier (same
    ``PySparkTypeError`` for a wrong-typed value), then Spark Connect's
    list-to-Arrow conversion, which keeps classic's value semantics
    (naive timestamps as local time, decimal rounding, nested
    types)."""
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier
    verify = _make_type_verifier(schema)
    for r in rows:
        verify(r)
    return (LocalDataToArrowConversion.convert(rows, schema, False)
            if rows else to_arrow_schema(schema).empty_table())


def _local_frame(spark: SparkSession, rows: list,
                 schema: T.StructType | str) -> DataFrame:
    """``rows`` (tuples in ``schema`` order; a DDL string or a
    ``StructType``) as a ``LocalRelation``.
    ``createDataFrame(list, schema)`` builds a Python RDD in classic
    PySpark, so every action on it runs a Python-worker job; the
    :func:`_arrow_rows` table becomes a ``LocalRelation`` whose collect
    runs none."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    return spark.createDataFrame(_arrow_rows(rows, schema), schema)


def _parquet_names(dt: T.DataType) -> bool:
    """Whether Spark infers ``dt`` back from a pyarrow-written parquet
    footer.  A day-time interval is written as a plain int64 and a
    variant as a struct of two binaries, so a file holding either needs
    Spark's schema key in its footer."""
    if isinstance(dt, T.ArrayType):
        return _parquet_names(dt.elementType)
    if isinstance(dt, T.MapType):
        return _parquet_names(dt.keyType) and _parquet_names(dt.valueType)
    if isinstance(dt, T.StructType):
        return all(_parquet_names(f.dataType) for f in dt.fields)
    return not isinstance(dt, (T.DayTimeIntervalType, T.VariantType))


def _observed(obs: Observation, recount) -> dict:
    """The metrics ``obs`` carried through a write, or only ``n`` from
    ``recount()`` when the optimizer pruned the observation with its
    subtree: a delete predicate that folds to TRUE turns the kept-rows
    filter into an empty relation, and ``obs.get`` then fails."""
    try:
        return obs.get
    except Py4JJavaError:
        return {"n": recount()}


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
        # roll back to) — suspends retention
        self._pin: int | None = None
        # serializes the read-base → assign-ids → write-version
        # critical section so concurrent DML from driver threads never
        # loses an insert or duplicates an id (reference test_threading
        # runs 10 writer threads).  Driver-side only by design: this
        # single-writer model is the documented divergence from a real
        # multi-writer table format (Delta/Iceberg OCC).
        self._lock = threading.RLock()
        # last committed version, rollback()'s target: creation state
        # is the implicit first commit point; retention keeps it
        self._mark: int = 0
        # driver-side caches, owned by the lock like the version
        # lineage and changed only by _moved():
        # - the reader handle for the current version (a parquet read
        #   re-resolves the footer on every df() call);
        # - the schema the first read inferred (a reader given it runs
        #   no footer job; a reader without one runs a one-task job);
        # - the id watermark, max(id) of the current version (0 when
        #   empty), or None to recompute it with one aggregate (after
        #   a rollback, a const CTAS or an update that sets the id).
        self._df_cache: DataFrame | None = None
        self._df_cache_key: str | None = None
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

    def _write_version(self, df: DataFrame, max_id: int | None,
                       compact: bool = False) -> None:
        """Write ``df`` as the next version, whose id watermark is
        ``max_id`` (see :meth:`_moved`).  ``compact=True`` coalesces
        the write to ceil(table bytes / 128 MB) tasks — callers set it
        when the output is known to be roughly current-table-sized
        (insert of a local batch, update, delete), where per-tiny-file
        write tasks + commit renames otherwise dominate.  A no-op at
        scale: coalesce only ever REDUCES partitions, so a table with
        many 128 MB files keeps its parallelism.  Not used for
        insert_from/merge, whose source size is unknown to the
        driver."""
        vs = self._versions()
        nxt = (vs[-1] + 1) if vs else 0
        target = os.path.join(self.root, f"v{nxt}")
        if compact:
            nparts = max(1, -(-self._table_bytes() // self._TARGET_FILE_BYTES))
            df = df.coalesce(nparts)
        df.write.mode("overwrite").parquet(target)
        self._moved(df.schema, max_id)
        self._retain()

    def _retain(self) -> None:
        """The one retention rule: keep the newest four versions
        (a lazily held ``df()`` handle must survive a few writes before
        it executes) and the commit mark (``rollback()``'s target);
        delete nothing while a transaction pins the table."""
        with self._lock:
            if self._pin is not None:
                return
            for v in self._versions()[:-4]:
                if v != self._mark:
                    shutil.rmtree(os.path.join(self.root, f"v{v}"),
                                  ignore_errors=True)

    def _moved(self, schema: T.StructType | None,
               max_id: int | None) -> None:
        """The one invalidation point: the current version changed,
        by a write of ``schema``-typed rows or by a rollback
        (``schema=None``).  Drops the reader handle (version numbers
        are reused after a rollback, so a path-keyed handle alone
        would serve deleted files); drops the kept schema on a
        rollback or when the written (name, type) list differs (the
        ``unionByName`` widening path); sets the id watermark to
        ``max_id``."""
        self._df_cache = None
        self._df_cache_key = None
        if schema is None or self._schema is not None and (
                [(f.name, f.dataType) for f in schema.fields]
                != [(f.name, f.dataType) for f in self._schema.fields]):
            self._schema = None
        self._max_id_cache = max_id

    def _restore(self, version: int | None) -> None:
        """Make ``version`` current again: delete every later one."""
        with self._lock:
            for v in self._versions():
                if version is None or v > version:
                    shutil.rmtree(os.path.join(self.root, f"v{v}"),
                                  ignore_errors=True)
            self._moved(None, None)

    # ---- commit points (reference commit()/rollback(),
    # __builtins__.pql:176-189) ---------------------------------------
    @_locked
    def commit(self) -> None:
        """Make the current version the rollback point (the
        copy-on-write writes themselves are already durable)."""
        vs = self._versions()
        if vs:
            self._mark = vs[-1]

    @_locked
    def rollback(self) -> None:
        """Revert to the last :meth:`commit` point (the creation state
        if never committed)."""
        self._restore(self._mark)

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
        t._write_version(spark.createDataFrame([], schema), max_id=0)
        return t

    @classmethod
    def from_expr(cls, spark: SparkSession, name: str, root: str,
                  df: DataFrame, const: bool = False,
                  id_col: str = "id") -> "MutableTable":
        """CTAS ``table foo = expr`` (evaluate.py:177-185): materialize;
        ``const=True`` keeps existing ids (new_table_from_expr)."""
        t = cls(spark, name, root, id_col=id_col)
        n = None                       # kept ids: recompute on insert
        if not const and id_col not in df.columns:
            df, n = _assign_ids_counted(df, id_col, base=1)
        t._write_version(df, max_id=n)
        return t

    # ---- read ------------------------------------------------------
    def df(self) -> DataFrame:
        # Under the table lock: retention (inside _write_version, same
        # lock) could otherwise delete the listed path between the
        # listdir and the parquet footer read — observed as a flaky
        # PATH_NOT_FOUND in the ported threading test when 10 writer
        # threads churn versions under CPU contention.
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

    # ---- append path -------------------------------------------------
    # An insert only ADDS rows, so rewriting the whole table per insert
    # is O(table) work for an O(batch) change.  Both insert paths
    # instead append files to the current version when _appendable
    # says so.  rollback() still discards whole versions, lazily held
    # df() handles keep their frozen file list, and readers under the
    # lock see the append at once (the handle is dropped).  The first
    # insert after create/commit (protecting the rollback target) and
    # every statement inside an open transaction still open a new
    # version.

    def _appendable(self, cur: DataFrame, batch: DataFrame) -> bool:
        """``batch`` may be appended to the current version ``cur``:
        no transaction is open, the current version is newer than the
        commit mark, and the batch's name→type map equals the stored
        one (the copy-on-write union widens types instead)."""
        vs = self._versions()
        return (self._pin is None and bool(vs) and vs[-1] > self._mark
                and dict(batch.dtypes) == dict(cur.dtypes))

    def _append_df(self, df: DataFrame, max_id: int) -> None:
        """Spark-writer append: write ``df`` to a temp dir, move its
        part files into the current version.  The write keeps the
        frame's own partitioning — a distributed ``t += expr`` batch
        appends in parallel and never rewrites the existing table."""
        cur_path = self._current_path()
        tag = uuid.uuid4().hex[:12]
        tmpdir = os.path.join(self.root, f".append-{tag}")
        df.write.mode("overwrite").parquet(tmpdir)
        for f in os.listdir(tmpdir):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmpdir, f),
                          os.path.join(cur_path, f"append-{tag}-{f}"))
        shutil.rmtree(tmpdir, ignore_errors=True)
        self._moved(df.schema, max_id)

    @_locked
    def insert_rows(self, rows: list[dict]) -> list[Row]:
        """Bulk ``new[]`` — vectorized (the reference loops row-at-a-
        time and flags it "very inefficient", evaluate.py:841).  Ids
        are assigned driver-side by enumeration: the input IS a local
        Python list, so this costs zero Spark jobs and preserves the
        reference's insertion-order id sequence.  On the append path
        the verified Arrow batch is written driver-side with pyarrow,
        so the whole statement starts no Spark job."""
        import pyarrow.parquet as pq
        cur = self.df()
        base = self._next_id_base(cur)
        data = [f for f in cur.schema.fields if f.name != self.id_col]
        schema = T.StructType(
            [T.StructField(self.id_col, T.LongType(), False)] + data)
        table = _arrow_rows(
            [(base + i, *(r.get(f.name) for f in data))
             for i, r in enumerate(rows)], schema)
        # a LocalRelation: collect() starts no job and returns Spark's
        # coerced values
        batch = self.spark.createDataFrame(table, schema)
        out = batch.collect()
        max_id = base + len(rows) - 1
        if self._appendable(cur, batch):
            if not _parquet_names(schema):
                # Spark's own footer key: a reader inferring from this
                # file (after a rollback) then sees the stored types
                table = table.replace_schema_metadata(
                    {"org.apache.spark.sql.parquet.row.metadata":
                     schema.json()})
            # a hidden name until complete: readers skip dot-files
            path = self._current_path()
            tag = uuid.uuid4().hex[:12]
            tmp = os.path.join(path, f".append-{tag}.parquet.tmp")
            pq.write_table(table, tmp)
            os.rename(tmp, os.path.join(path, f"append-{tag}.parquet"))
            self._moved(schema, max_id)
        else:
            self._write_version(cur.unionByName(batch), max_id,
                                compact=True)
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
        batch = batch.select(*cur.columns)
        if self._appendable(cur, batch):
            self._append_df(batch, base + n - 1)
        else:
            self._write_version(cur.unionByName(batch), base + n - 1)

    @_locked
    def update(self, cond, _cur: DataFrame | None = None, **sets) -> int:
        """``t[conds] update {col: expr}`` — copy-on-write MERGE shape.
        Returns the number of updated rows (rows where ``cond`` is
        TRUE; NULL predicates update nothing, like SQL), counted by an
        ``Observation`` that rides on the version write, so no extra
        job runs.  ``_cur`` lets a caller that built ``cond`` against
        a specific read of the table pass that exact DataFrame (column
        expressions resolve by attribute id in Spark)."""
        cur = _cur if _cur is not None else self.df()
        obs = Observation()
        updated = cur.observe(obs, F.count_if(cond).alias("n")).withColumns(
            {k: F.when(cond, v if isinstance(v, Column) else F.lit(v))
             .otherwise(F.col(k)) for k, v in sets.items()})
        self._write_version(
            updated, None if self.id_col in sets else self._max_id_cache,
            compact=True)
        return _observed(obs, lambda: cur.filter(cond).count())["n"]

    @_locked
    def merge(self, src: DataFrame, on: list[str] | str) -> dict:
        """Upsert (Delta/Iceberg MERGE INTO shape, beyond the
        reference's DML): rows of ``src`` matching on ``on`` replace
        the current rows' non-key columns; unmatched src rows are
        inserted with fresh ids.  One copy-on-write version write;
        matching is a single full-outer-free plan (anti + semi joins
        on the keys).  Like Delta/Iceberg MERGE, raises if ``src``
        contains duplicate key values (the matched join would fan out
        and silently duplicate target rows).  Returns
        {"updated": n, "inserted": n}: the first counted by an
        ``Observation`` on the version write, the second by the id
        assignment."""
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
        fresh = src.join(cur.select(*keys), keys, "left_anti")
        base = self._next_id_base(cur)
        inserted, n_ins = _assign_ids_counted(
            fresh.select(
                *keys, *upd_cols,
                *[F.lit(None).cast(cur.schema[c].dataType).alias(c)
                  for c in data_cols if c not in keys and c not in upd_cols]
            ).select(*data_cols),
            self.id_col, base)
        obs = Observation()
        out = (kept.select(self.id_col, *data_cols)
               .unionByName(matched.observe(obs, F.count(F.lit(1)).alias("n"))
                            .select(self.id_col, *data_cols))
               .unionByName(inserted))
        self._write_version(out, base + n_ins - 1)
        return {"updated": _observed(obs, matched.count)["n"],
                "inserted": n_ins}

    @_locked
    def delete(self, cond, _cur: DataFrame | None = None) -> int:
        """``t delete [conds]`` — filtered overwrite.  Deletes only
        rows where the predicate is TRUE: rows where it evaluates NULL
        are KEPT (``~cond`` alone would drop them — NULL negated is
        NULL), matching SQL/reference DELETE.  Returns rows deleted,
        counted by an ``Observation`` on the rewrite (no extra job)."""
        cur = _cur if _cur is not None else self.df()
        hit = cond if isinstance(cond, Column) else F.expr(cond)
        kill = hit.eqNullSafe(True)
        metrics = [F.count_if(kill).alias("n")]
        if self.id_col in cur.columns:     # a bare table has no ids
            metrics.append(
                F.max(F.when(~kill, F.col(self.id_col))).alias("m"))
        obs = Observation()
        self._write_version(cur.observe(obs, *metrics).filter(~kill),
                            None, compact=True)
        got = _observed(obs, lambda: cur.filter(hit).count())
        # the kept rows' max id is the watermark, so a deleted max-id
        # row's id is reused (max(id)+1 semantics) with no aggregate
        # job; a pruned observation leaves it to recompute
        if "m" in got:
            self._max_id_cache = got["m"] or 0
        return got["n"]


@contextmanager
def transaction(*tables: MutableTable):
    """Reference ``transaction {...}`` semantics (evaluate.py:358-369):
    mutations inside the block commit together at block exit; any
    exception rolls every table back to its pre-transaction version.

    The copy-on-write versioning makes this nearly free: BEGIN pins
    each table's current version (suspending retention), ROLLBACK
    deletes the versions written since, COMMIT just unpins and applies
    the retention rule.  Single-writer semantics, like the rest of
    MutableTable — concurrent writers need a real table format
    (Delta/Iceberg), the documented divergence.
    """
    outer = {t: t._pin for t in tables}
    pins: dict[MutableTable, int | None] = {}
    for t in tables:
        vs = t._versions()
        t._pin = pins[t] = vs[-1] if vs else None
    try:
        yield
    except BaseException:
        for t, v in pins.items():
            t._restore(v)
        raise
    finally:
        for t in pins:
            t._pin = outer[t]          # an enclosing block still pins it
            t._retain()
