"""Engine: SparkSession wrapper + catalog + FK registry.

Plays the role of the reference interpreter's session/state
(``/root/reference/preql/core/interpreter.py``, ``preql/api.py:117-257``)
but emits PySpark plans instead of SQL strings. Tables are DataFrames
plus a catalog entry ``(name, pk, fks)``; the FK registry replicates the
reference's ``t_relation`` metadata
(``/root/reference/preql/core/evaluate.py:70-87``) and powers auto-join
(``preql/core/pql_functions.py:439-455``).

Scale notes (100 TB design):
- The engine never collects data to build a plan; all methods are
  plan-to-plan.  Actions happen only in ``Table.collect/show/write``.
- AQE is enabled by default so skewed joins / small partitions are
  re-planned at runtime; broadcast decisions are left to Catalyst's
  size-based threshold plus explicit ``broadcast=`` hints on joins of
  FK-discovered dimension tables.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# FK metadata for the driver's TPC-H-ish star schema (TESTDATA.md).
# Mirrors the role of Preql `t_relation` columns: fk column -> (table, key).
TPCH_FKS: dict[str, dict[str, tuple[str, str]]] = {
    "nation": {"n_regionkey": ("region", "r_regionkey")},
    "customer": {"c_nationkey": ("nation", "n_nationkey")},
    "supplier": {"s_nationkey": ("nation", "n_nationkey")},
    "orders": {"o_custkey": ("customer", "c_custkey")},
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
}

# reverse relations (reference `-> name` backrefs): holder table ->
# {backref name -> (source table, fk column on the source)}
TPCH_BACKREFS: dict[str, dict[str, tuple[str, str]]] = {
    "region": {"nations": ("nation", "n_regionkey")},
    "nation": {"customers": ("customer", "c_nationkey"),
               "suppliers": ("supplier", "s_nationkey")},
    "customer": {"orders": ("orders", "o_custkey")},
    "orders": {"items": ("lineitem", "l_orderkey")},
}

TPCH_PKS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}

TPCH_TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@dataclass
class TableMeta:
    """Catalog entry: schema lives on the DataFrame; this holds the
    relational metadata Spark does not track (pk, FK relations, and
    table methods — reference MethodInstance, pql_objects.py:266-274)."""

    name: str
    pk: str | None = None
    # fk column -> (target table, target column)
    fks: dict[str, tuple[str, str]] = field(default_factory=dict)
    # method name -> callable(Table) -> Column (computed attributes,
    # usable in projections/filters like reference table methods)
    methods: dict = field(default_factory=dict)
    # reverse relations declared with `col: Target -> name` (reference
    # backrefs, test_basic.py test_self_reference):
    # backref name -> (source table, fk column on the source)
    backrefs: dict = field(default_factory=dict)


def default_session(app_name: str = "preql_spark", cpus: int | None = None) -> SparkSession:
    """Build a local session tuned per the public PySpark guidance:
    AQE on, Arrow on, shuffle partitions sized to cores (not 200)."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime row-level filtering: build a bloom filter from the
        # selective side of a shuffle join and push it into the other
        # side's scan — free I/O reduction on big joins at scale
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # bucketed-table support (write_bucketed): keep the metastore
        # and warehouse out of the repo working tree
        .config("spark.sql.warehouse.dir",
                os.environ.get("SPARK_GRAFT_WAREHOUSE",
                               "/tmp/preql_spark_warehouse"))
        .config("spark.driver.extraJavaOptions",
                "-Dderby.system.home=/tmp/preql_spark_derby")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class Engine:
    """Session object — the PySpark analogue of ``Preql()``.

    >>> eng = Engine(spark).load_dir("/root/testdata/sf0.01")
    >>> eng.t.lineitem.filter(lambda t: t.l_quantity > 30)
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or default_session()
        self.catalog: dict[str, TableMeta] = {}
        self._dfs: dict[str, DataFrame] = {}
        # name -> MutableTable: the in-language DDL/DML surface
        # (``table Foo {...}``, ``new``, ``update``, ``delete``)
        self.mutables: dict = {}
        self._mut_root: str | None = None
        # persistent language namespace: bindings/functions survive
        # across q() calls like the reference interpreter state
        # (interpreter.py Preql namespace)
        self.lang_env: dict = {}
        self.t = _TableNamespace(self)

    # ---- catalog ---------------------------------------------------
    def register(self, name: str, df: DataFrame, pk: str | None = None,
                 fks: dict[str, tuple[str, str]] | None = None,
                 methods: dict | None = None,
                 backrefs: dict | None = None) -> "Table":
        self.catalog[name] = TableMeta(name, pk=pk, fks=dict(fks or {}),
                                       methods=dict(methods or {}),
                                       backrefs=dict(backrefs or {}))
        self._dfs[name] = df
        df.createOrReplaceTempView(name)
        return self.table(name)

    def add_index(self, name: str, cols: list[str], unique: bool = False) -> None:
        """Reference add_index (pql_functions.py:1043-1082): explicitly
        a no-op on columnar engines (the reference no-ops on snowflake/
        redshift/bigquery too).  On Spark the analogue is write-time
        layout — partitioning/bucketing/Z-order — applied by writers,
        not the catalog."""
        return None

    # ---- mutable tables (in-language DDL/DML) ----------------------
    def _mutable_root_dir(self) -> str:
        if self._mut_root is None:
            import tempfile
            self._mut_root = tempfile.mkdtemp(prefix="preql_mutables_")
        return self._mut_root

    def create_table(self, name: str, schema, bare: bool = False):
        """``table Foo {...}`` DDL (reference evaluate.py:213-275).
        If the name already exists as a mutable table, bind to it like
        the reference's exists-branch instead of clobbering the data."""
        from preql_spark.sources.mutable import MutableTable
        if name in self.mutables:
            return self.mutables[name]
        mt = MutableTable.create(self.spark, name, self._mutable_root_dir(),
                                 schema, bare=bare)
        self.mutables[name] = mt
        self._sync_mutable(name)
        return mt

    def create_table_from(self, name: str, df: DataFrame,
                          const: bool = False):
        """CTAS ``[const] table foo = expr`` (evaluate.py:177-185)."""
        from preql_spark.sources.mutable import MutableTable
        mt = MutableTable.from_expr(self.spark, name,
                                    self._mutable_root_dir(), df, const=const)
        self.mutables[name] = mt
        self._sync_mutable(name)
        return mt

    def drop_table(self, name: str) -> None:
        import shutil
        mt = self.mutables.pop(name, None)
        if mt is not None:
            shutil.rmtree(mt.root, ignore_errors=True)
        self._dfs.pop(name, None)
        self.catalog.pop(name, None)
        self.spark.catalog.dropTempView(name)

    def _sync_mutable(self, name: str) -> None:
        """Refresh the catalog/temp-view binding after a mutation so
        Python-side ``eng.t.<name>`` and SQL both see the new version.
        Lang-declared methods and FKs ride along on the meta."""
        mt = self.mutables[name]
        self.register(name, mt.df(), pk=mt.id_col,
                      fks=getattr(mt, "fks", None),
                      methods=getattr(mt, "methods", None),
                      backrefs=getattr(mt, "backrefs", None))

    def table(self, name: str) -> "Table":
        from preql_spark.table import Table
        if name in self.mutables:
            # always read the mutable's current version, never a
            # stale registered snapshot
            mt = self.mutables[name]
            meta = self.catalog.get(name) or TableMeta(name, pk=mt.id_col)
            return Table(self, mt.df(), meta=meta)
        if name not in self._dfs:
            # fall back to the Spark catalog (reflection, like
            # reference import_table — pql_functions.py:689-711)
            df = self.spark.table(name)
            return Table(self, df, meta=TableMeta(name))
        return Table(self, self._dfs[name], meta=self.catalog[name])

    def tables(self) -> list[str]:
        """Reference ``tables()`` — pql_functions.py:806-817."""
        return sorted(self._dfs)

    def attach(self, uri: str) -> "Engine":
        """Attach a data source by the reference's URI schemes
        (sql_interface.py:962-1023): ``git://<path>`` (repo history
        as ``commits``/``refs``/``commit_files``),
        ``sqlite://<path>`` (the reference's default storage
        target), ``duck://``/``duckdb://<path>``, the JDBC server
        dialects (``postgres://`` etc. → partitioned
        ``spark.read.jdbc`` reflection), or a plain directory of
        parquet tables.  Shared by the module-level :func:`connect`
        AND the lang ``connect(...)`` builtin, so both spellings
        accept exactly the same URIs (pql_connect,
        pql_functions.py:715-733)."""
        if uri.startswith("git://"):
            return self.import_git(uri[len("git://"):])
        if uri.startswith("sqlite://"):
            return self.import_sqlite(uri[len("sqlite://"):])
        if uri.startswith(("duck://", "duckdb://")):
            return self.import_duckdb(uri.split("://", 1)[1])
        if "://" in uri:
            from preql_spark.sources.jdbc import _DIALECTS
            scheme = uri.split("://", 1)[0].lower()
            if scheme in _DIALECTS or scheme == "bigquery":
                # server dialects (postgres://, mysql://, ... —
                # reference sql_interface.py:965-1025): reflect the
                # current schema over partitioned spark.read.jdbc
                return self.import_jdbc(uri)
        return self.load_dir(uri)

    def load_dir(self, path: str, names: list[str] | None = None) -> "Engine":
        """Bind every parquet table under ``path`` into the namespace
        (reference ``load_all_tables`` — interpreter.py:158-189),
        attaching the star-schema FK registry when names match."""
        from preql_spark.parquet_io import read_parquet
        if names is None:
            names = [f[:-8] for f in sorted(os.listdir(path)) if f.endswith(".parquet")]
        for n in names:
            fp = os.path.join(path, f"{n}.parquet")
            self.register(n, read_parquet(self.spark, fp),
                          pk=TPCH_PKS.get(n), fks=TPCH_FKS.get(n),
                          backrefs=TPCH_BACKREFS.get(n))
        return self

    # ---- constructors ----------------------------------------------
    def names(self) -> dict[str, list[str]]:
        """Reference ``names()`` (pql_functions.py:735-803): everything
        addressable in the session — catalog tables, scalar and
        aggregate functions, and pipeline operators."""
        from preql_spark.functions import aggregate as agg, scalar as sc
        def public(mod):
            return sorted(n.rstrip("_") for n in dir(mod)
                          if not n.startswith("_") and callable(getattr(mod, n)))
        return {
            "tables": self.tables(),
            "scalar_functions": public(sc),
            "aggregate_functions": public(agg),
        }

    def columns(self, name: str) -> dict[str, str]:
        """Reference ``columns(t)`` (pql_functions.py:627-665):
        column → Spark type name for a catalog table."""
        df = self._dfs[name]
        return {f.name: f.dataType.simpleString() for f in df.schema.fields}

    def from_df(self, df: DataFrame, name: str | None = None) -> "Table":
        from preql_spark.table import Table
        return Table(self, df, meta=TableMeta(name or "anon"))

    def range(self, start: int, stop: int) -> "Table":
        """``[a..b]`` integer series (reference compiles a recursive CTE,
        compiler.py:677-712; Spark has a native distributed range)."""
        return self.from_df(self.spark.range(start, stop).select(F.col("id").alias("item")))

    def list_(self, values: list) -> "Table":
        """Inline list literal → single-column table named ``item``
        (reference T.list — pql_types.py:273, ITEM_NAME pql_types.py:66).
        An empty literal types as long, like the reference's
        empty-list default."""
        if not values:
            return self.from_df(self.spark.createDataFrame([], "item long"))
        # list_/rows: Spark's list inference (int+float raises), not Arrow's
        df = self.spark.createDataFrame([(v,) for v in values], ["item"])
        return self.from_df(df)

    def rows(self, rows: list[dict]) -> "Table":
        """``[{a:1,b:2}, ...]`` dict-row literal (test_basic.py:1501-1508)."""
        return self.from_df(self.spark.createDataFrame(rows))

    # ---- query language --------------------------------------------
    def q(self, src: str, **env):
        """Evaluate a Preql-syntax query string against the catalog,
        e.g. ``eng.q('customer[c_acctbal > 9000]{c_name}')``.
        Returns a Table, Column, or Python scalar.  Bindings and
        function definitions persist across calls (the reference
        ``Preql()`` object keeps its namespace the same way)."""
        from preql_spark.lang import Parser
        self.lang_env.update({k: self._from_python(v)
                              for k, v in env.items()})
        return Parser(self, src, self.lang_env).parse()

    # ---- Python embedding API (reference preql/api.py:117-257) -----
    #: instance attributes that __setattr__ must NOT divert into the
    #: language namespace (everything else binds as a lang variable,
    #: like the reference's `p.x = value`)
    _RESERVED = {"spark", "catalog", "mutables", "lang_env", "t"}

    def __call__(self, code: str, **args):
        """``eng("code", x=1)`` — run Preql code with Python-value
        arguments bound as variables (api.py:205-209)."""
        return self.q(code, **args)

    def _from_python(self, value):
        """Convert a Python value into a language-level object
        (reference objects.from_python): pandas/Spark DataFrames and
        lists become Tables; Tables and scalars pass through."""
        from pyspark.sql import Row
        from preql_spark.table import Table
        import pandas as pd
        if isinstance(value, Table) or value is None \
                or isinstance(value, (int, float, str, bool)):
            return value
        if isinstance(value, Row):
            # row values stay rows (`new Person("Isaac", ab)` takes
            # the FK from the row's id) — NB Row subclasses tuple, so
            # this must precede the list/tuple branch
            return value
        if isinstance(value, pd.DataFrame):
            return self.from_df(self.spark.createDataFrame(value))
        if isinstance(value, DataFrame):
            return self.from_df(value)
        if isinstance(value, (list, tuple)):
            return self.list_(list(value))
        return value

    def __getattr__(self, name: str):
        """``eng.my_func(args)`` / ``eng.my_table`` — language
        namespace access from Python (api.py:172-182).  Only reached
        when normal attribute lookup fails.  A lang-defined function
        returns a delegate callable; tables and values return as-is."""
        if name.startswith("_"):
            raise AttributeError(name)
        # NB: all these lookups use object attributes that exist by
        # the end of __init__; during __init__ they may not, hence get
        env = self.__dict__.get("lang_env") or {}
        if name in env:
            v = env[name]
            from preql_spark.lang import _UserFunc
            if isinstance(v, _UserFunc):
                return _Delegate(self, v)
            return v
        if name in self.__dict__.get("mutables", {}) \
                or name in self.__dict__.get("_dfs", {}):
            return self.table(name)
        from preql_spark.lang import _FUNCTIONS, _TABLE_FUNCS
        if name in _FUNCTIONS or name in _TABLE_FUNCS:
            return _Delegate(self, name)
        raise AttributeError(f"Engine has no attribute or binding {name!r}")

    def __setattr__(self, name: str, value) -> None:
        """``eng.x = value`` binds a language variable (api.py:188-194)
        unless it is an engine attribute or ``_``-private."""
        if name.startswith("_") or name in self._RESERVED:
            return super().__setattr__(name, value)
        self.lang_env[name] = self._from_python(value)

    def load(self, filename: str, rel_to: str | None = None):
        """Run a Preql script file (api.py:211-219; the reference's
        ``include``)."""
        path = filename
        if rel_to:
            path = os.path.join(os.path.dirname(os.path.abspath(rel_to)),
                                filename)
        with open(path) as f:
            return self.q(f.read())

    def commit(self) -> None:
        """Reference ``commit()`` (__builtins__.pql:176-182): make the
        current state the rollback point for every mutable table (the
        copy-on-write writes themselves are already durable)."""
        for mt in self.mutables.values():
            mt.commit()

    def rollback(self) -> None:
        """Reference ``rollback()`` (__builtins__.pql:183-189): revert
        every mutable table to its last ``commit()`` point (creation
        state if never committed).  Divergence (documented): a table
        *created* since the last commit reverts to its empty creation
        version rather than disappearing."""
        for name, mt in list(self.mutables.items()):
            mt.rollback()
            self._sync_mutable(name)

    def run_statement(self, code: str) -> None:
        """Reference ``run_statement(code)`` (__builtins__.pql:559-561)
        — execute a raw SQL statement for effect.  ``DROP TABLE`` on a
        session table routes through the catalog (Spark temp views
        reject the table form)."""
        import re
        m = re.fullmatch(
            r"\s*DROP\s+TABLE\s+(IF\s+EXISTS\s+)?[`\"]?(\w+)[`\"]?\s*;?\s*",
            code, re.IGNORECASE)
        if m:
            name = m.group(2)
            if name in self.mutables or name in self._dfs:
                self.drop_table(name)
            elif not m.group(1):
                raise NameError(f"no such table {name!r}")
            return None
        self.spark.sql(code)
        return None

    def transaction(self):
        """``with eng.transaction(): ...`` — mutations to every
        mutable table commit together / roll back together
        (api.py:221-229; version-pinning semantics documented in
        sources/mutable.py)."""
        from preql_spark.sources.mutable import transaction
        return transaction(*self.mutables.values())

    # ---- escape hatches --------------------------------------------
    def sql(self, code: str, _self_columns: list[str] | None = None,
            **tables: "Table | DataFrame") -> "Table":
        """Raw-SQL escape hatch with parameter binding — the
        reference's ``SQL(type, "... $var")`` (pql_functions.py:86-123;
        compiled at compiler.py:492-552).

        ``$var`` embeds a bound table (kwarg or catalog name) as a
        temp view.  ``$self`` names the query itself, enabling
        recursion like the reference: the code is wrapped in a Spark
        ``WITH RECURSIVE`` CTE (native since Spark 4.0), e.g.::

            eng.sql("SELECT 1 AS n UNION ALL "
                    "SELECT n+1 FROM $self WHERE n < 10")
        """
        import re
        from preql_spark.table import Table
        for var, t in tables.items():
            df = t.df if isinstance(t, Table) else t
            df.createOrReplaceTempView(var)

        def sub(m: "re.Match") -> str:
            name = m.group(1)
            if name == "self":
                return "__self__"
            if name in tables or name in self._dfs \
                    or name in self.mutables:
                if name in self.mutables and name not in tables:
                    self._sync_mutable(name)
                return name
            raise NameError(f"SQL(): unbound variable ${name}")

        has_self = re.search(r"\$self\b", code) is not None
        code = re.sub(r"\$(\w+)", sub, code)
        if has_self:
            # Spark's recursive CTE accepts only UNION ALL in the
            # recursive member; the reference targets engines whose
            # UNION dedups per step (graph.pql bfs).  For TERMINATING
            # recursions the results are equal up to duplicates, so a
            # bare top-level UNION rewrites to UNION ALL + a DISTINCT
            # over the fixpoint.  Cyclic graphs need the step-wise
            # dedup to converge — use operators.graph.bfs (iterative,
            # anti-join dedup per round) for those; the level cap
            # below turns a runaway recursion into an error, not a
            # hang.
            distinct = ""
            if re.search(r"\bUNION\b(?!\s+ALL)", code, re.IGNORECASE):
                code = re.sub(r"\bUNION\b(?!\s+ALL)", "UNION ALL",
                              code, flags=re.IGNORECASE)
                distinct = "DISTINCT "
            # the declared result type names the recursion's columns
            # (SQL(list[int], "... $self bfs ... bfs.item"))
            collist = f" ({', '.join(_self_columns)})" \
                if _self_columns else ""
            code = (f"WITH RECURSIVE __self__{collist} "
                    f"MAX RECURSION LEVEL 100 "
                    f"AS ({code}) "
                    f"SELECT {distinct}* FROM __self__")
        return self.from_df(self.spark.sql(code))

    # ---- sources (see preql_spark.sources for the full surface) ----
    def import_parquet(self, path: str,
                       merge_schema: bool = False) -> "Table":
        """Parquet source; ``merge_schema=True`` unions the schemas of
        every file (schema evolution — old files without a newly-added
        column read it as NULL).  Merging reads every footer instead
        of one, so it stays opt-in; at 100 TB prefer a table format
        that tracks schema centrally, or run footer merges once and
        persist the result."""
        r = self.spark.read
        if merge_schema:
            r = r.option("mergeSchema", "true")
        return self.from_df(r.parquet(path))

    def import_csv(self, path: str, header: bool = True,
                   multiline: bool = False) -> "Table":
        """Reference import_csv — pql_functions.py:902-956.
        ``multiline=True`` parses quoted fields with embedded
        newlines (full round-trip fidelity with ``write_csv``) — off
        by default because a multiLine CSV file cannot be SPLIT
        across tasks (one file = one task), which is the wrong
        default for large corpora."""
        return self.from_df(
            self.spark.read.csv(path, header=header, inferSchema=True,
                                multiLine=multiline))

    def import_json(self, path: str) -> "Table":
        """Reference import_json — pql_functions.py:875-898."""
        return self.from_df(self.spark.read.json(path))

    def import_orc(self, path: str) -> "Table":
        """ORC source (columnar like parquet, schema from the footer —
        no inference pass)."""
        return self.from_df(self.spark.read.orc(path))

    def import_text(self, path: str, name_col: str = "text") -> "Table":
        """Raw text-file source: one row per line (the rawest corpus
        format — pair with ``chunk_dedup``/``quality_metrics`` for
        line-level pipelines).  Whole-file rows via wholetext are a
        driver-memory trap at scale; line rows parallelize."""
        return self.from_df(
            self.spark.read.text(path).withColumnRenamed("value", name_col))

    def import_jsonl(self, path: str, schema=None) -> "Table":
        """JSON-lines source (pairs with ``Table.write_jsonl``).  Pass
        a DDL string or StructType: schema inference is an extra full
        pass over the data — at 100 TB that doubles the read, so the
        explicit schema is the scale path.  None falls back to
        inference for ad-hoc use."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return self.from_df(reader.json(path))

    def import_pandas(self, **dfs) -> dict[str, "Table"]:
        """Reference import_pandas — pql_functions.py:849-873."""
        return {name: self.register(name, self.spark.createDataFrame(pdf))
                for name, pdf in dfs.items()}

    def import_sqlite(self, path: str, tables: list | None = None,
                      prefix: str = "") -> dict:
        """SQLite-file source (the reference's DEFAULT storage target,
        ``connect("sqlite://...")`` sql_interface.py:962): reflect and
        register every table — see :mod:`preql_spark.sources.sqldb`
        for the driver-local migration-path judgement."""
        from preql_spark.sources.sqldb import import_sqlite
        return import_sqlite(self, path, tables=tables, prefix=prefix)

    def import_duckdb(self, path: str, tables: list | None = None,
                      prefix: str = "") -> dict:
        """DuckDB-file source (reference ``connect("duck://...")``,
        sql_interface.py:1017) — Arrow-bridged."""
        from preql_spark.sources.sqldb import import_duckdb
        return import_duckdb(self, path, tables=tables, prefix=prefix)

    def import_jdbc(self, uri: str, tables: list | None = None,
                    partition_cols: dict | None = None,
                    num_partitions: int = 8, prefix: str = "",
                    properties: dict | None = None) -> dict:
        """Live-database source over ``spark.read.jdbc`` — the
        migration path for the reference's server dialects
        (postgres/mysql/... — sql.py:11-19, sql_interface.py:965).
        ``partition_cols`` picks per-table partition columns for
        parallel range scans; see :mod:`preql_spark.sources.jdbc`."""
        from preql_spark.sources.jdbc import import_jdbc
        return import_jdbc(self, uri, tables=tables,
                           partition_cols=partition_cols,
                           num_partitions=num_partitions, prefix=prefix,
                           properties=properties)

    def import_git(self, repo: str, prefix: str = "") -> dict:
        """Git-repository source (reference ``connect("git://...")``,
        GitInterface sql_interface.py:877-949): registers ``commits``
        / ``refs`` / ``commit_files`` tables extracted from the repo's
        history — see :mod:`preql_spark.sources.gitdb`."""
        from preql_spark.sources.gitdb import import_git
        return import_git(self, repo, prefix=prefix)


# single source of truth for testdata timestamp handling lives in
# preql_spark.parquet_io; kept as an alias for older imports
from preql_spark.parquet_io import nanos_timestamp_cols as _nanos_timestamp_cols  # noqa: E402


class _Delegate:
    """Callable proxy for a lang-defined function accessed from Python
    (reference api.py:98-115 ``_Delegate``): ``eng.my_func(1, 2)``
    inlines the function body with the Python arguments converted to
    language values."""

    def __init__(self, engine: Engine, fn):
        self._engine = engine
        self._fn = fn

    def __call__(self, *args, **kwargs):
        from pyspark.sql import Column
        from preql_spark.lang import Parser, _apply_function
        eng = self._engine
        p = Parser(eng, "", eng.lang_env)
        args = [eng._from_python(a) for a in args]
        kwargs = {k: eng._from_python(v) for k, v in kwargs.items()}
        if isinstance(self._fn, str):       # builtin function name
            out = _apply_function(p, self._fn, args, kwargs)
        else:
            out = p._inline_call(self._fn, args, kwargs)
        # localize table-free scalar results, like the interpreter
        # does for a top-level expression (api.py _wrap_result)
        return p._pyval(out) if isinstance(out, Column) else out

    def __repr__(self):
        name = self._fn if isinstance(self._fn, str) else self._fn.name
        return f"<preql function {name}>"


class _TableNamespace:
    """Attribute-style table access: ``eng.t.lineitem``."""

    def __init__(self, engine: Engine):
        object.__setattr__(self, "_engine", engine)

    def __getattr__(self, name: str):
        return self._engine.table(name)

    __getitem__ = __getattr__


def connect(spark: SparkSession | None = None, data_dir: str | None = None) -> Engine:
    """Reference ``connect(uri)`` analogue (pql_functions.py:715-733):
    Spark *is* the engine, so this just builds a session + catalog.
    ``data_dir`` also accepts the reference's URI schemes
    (sql_interface.py:962-1023): ``git://<path>`` (repo history as
    ``commits``/``refs``/``commit_files``), ``sqlite://<path>`` (the
    reference's default storage target), and ``duck://<path>`` /
    ``duckdb://<path>``."""
    eng = Engine(spark)
    if data_dir:
        eng.attach(data_dir)
    return eng
