"""The two workloads.  Each one:

- ``prepare(rep)`` generates its inputs from the seed and loads the
  catalog (timed as part of set-up, and repeated);
- ``reset()`` gives a measurement window fresh state, so every window
  of a run, and every run on a seed, follows the same path;
- ``stage(i, tr)`` lands what op ``i`` consumes, untimed;
- ``op(i, tr)`` is one timed operation, wrapped in spans around each
  call into the library;
- ``check(i, out)`` checks one op's output, untimed, and returns a list
  of mismatches;
- ``check_run()`` makes the once-per-run checks, untimed.

Ops run in a fixed cycle; the number of ops in a window is
``ops(seconds)``, whole cycles, a function of ``--seconds`` only, so
both commits of a comparison run the same ops on the same state.
"""

from __future__ import annotations

import os
import shutil
import time

import gen


def _files(root: str) -> dict[str, int]:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    cycle_len = 1
    warmup_ops = 0
    #: seconds one cycle took on 4 cores of a shared x86 server when the
    #: benchmark was written; sets how many cycles fill ``--seconds``
    cycle_s = 1.0
    min_cycles = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.window = 0

    def kind(self, i: int) -> str:
        """The op's kind, for the per-kind latency report."""
        return "pass"

    def stage(self, i: int, tr) -> None:
        pass

    def ops(self, seconds: float) -> int:
        return self.cycle_len * max(self.min_cycles,
                                    round(seconds / self.cycle_s))

    def bracket_ops(self, n: int) -> int:
        """Ops in each untraced window around the traced one: half a
        window, in whole cycles."""
        return self.cycle_len * max(1, n // self.cycle_len // 2)

    def reset(self, warm: bool = False) -> None:
        self.window += 1
        self.warming = warm

    def end_window(self) -> list[str]:
        """Checks after a window's last op, untimed."""
        return []

    def check_run(self) -> list[str]:
        return []

    def window_stats(self) -> dict:
        """Per-layer figures the workload gathers over a window."""
        return {}


class CurationBatch(Workload):
    """One op is one pass of q209's stage chain over the generated
    corpus, ending in a parquet write of the split shards."""
    name = "curation_batch"
    #: the first warm-up pass runs on a 300-doc corpus: it pays the
    #: one-time code generation and JIT of every stage at a fraction of
    #: a full pass; the second runs on the full corpus
    warmup_ops = 2
    SMALL_DOCS = 300
    cycle_s = 5.8
    min_cycles = 2

    def prepare(self, rep: int) -> None:
        from preql_spark.engine import Engine
        self.data = os.path.join(self.work, f"corpus{rep}")
        gen.write_corpus(gen.corpus(self.seed), self.data)
        self.eng = Engine(self.spark).load_dir(self.data)
        small = os.path.join(self.work, f"small{rep}")
        gen.write_corpus(gen.corpus(self.seed, n_docs=self.SMALL_DOCS), small)
        self.small = Engine(self.spark).load_dir(small)
        self._card = None

    def _small(self, i: int) -> bool:
        return self.warming and i == 0

    def rows(self, i: int) -> int:
        return self.SMALL_DOCS if self._small(i) else gen.CORPUS_DOCS

    def op(self, i: int, tr):
        from pyspark import StorageLevel
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from preql_spark.operators import dedup, text
        out_dir = os.path.join(self.work, f"out{self.window}-{i}")
        with tr.span("operators.construct"):
            d = (self.small if self._small(i) else self.eng).t.documents.df
            doc = F.col("doc_id")
            # q209's raw crawl: two dirty URL variants per page and
            # per-doc case/punctuation dirt
            dirty = (F.when(doc % 3 == 0, F.upper("text"))
                     .when(doc % 3 == 1, F.concat(F.col("text"),
                                                  F.lit(" !!")))
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
                         d.select(doc, F.lit(2).alias("seq"),
                                  v2.alias("url"), dirty.alias("dirty"))))
            with tr.span("text.canonicalize_url"):
                canon = crawl.withColumn("curl",
                                         text.canonicalize_url("url"))
            w = Window.partitionBy("curl").orderBy("seq")
            with tr.span("text.ensure_parallelism"):
                page = text.ensure_parallelism(
                    canon.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1)
                    .select("doc_id", "dirty", "curl"))
            with tr.span("text.normalize_text"):
                page = (page.select(
                    "doc_id", "dirty", text.host_of("curl").alias("host"),
                    text.normalize_text("dirty").alias("ntext"))
                    .persist(StorageLevel.MEMORY_AND_DISK))
            with tr.span("dedup.minhash_lsh_pairs"):
                pairs = dedup.minhash_lsh_pairs(page, "doc_id",
                                                text_col="ntext",
                                                threshold=0.9)
            with tr.span("dedup.connected_components"):
                comp = dedup.connected_components(pairs)
            with tr.span("dedup.dedup_keep_best"):
                kept = dedup.dedup_keep_best(
                    page, pairs, "doc_id",
                    [F.length("dirty").desc(), F.col("doc_id")],
                    components=comp)
            with tr.span("dedup.leakage_safe_split"):
                split = dedup.leakage_safe_split(
                    kept, pairs, {"train": 0.8, "valid": 0.1, "test": 0.1},
                    components=comp)
            with tr.span("text.concentration"):
                card = text.concentration(split, ["split"], "host",
                                          "length(dirty)")
        tr.checkpoint("construct")
        with tr.span("exec"):
            # q209's portable 4-place rounding
            r4 = lambda c: F.floor(F.col(c) * 10000 + 0.5) / 10000  # noqa: E731
            rows = [tuple(r) for r in card.select(
                "split", "n_keys", "total", r4("hhi"),
                r4("top_share")).collect()]
        tr.checkpoint("exec")
        with tr.span("commit"):
            self.eng.from_df(split.select("doc_id", "split", "host",
                                          "dirty")).write_parquet(out_dir)
        tr.checkpoint("commit", returned=time.time(),
                      bytes_written=sum(_files(out_dir).values())
                      if tr.enabled else 0)
        # the benchmark's own persist, as in q209; released so that
        # cache.entries_after_op counts only what the library holds
        page.unpersist()
        return rows, out_dir

    def check(self, i: int, out) -> list[str]:
        import checks
        rows, out_dir = out
        shutil.rmtree(out_dir, ignore_errors=True)
        if self._small(i):
            return []
        if self._card is None:
            self._card = rows
            return []
        errs = checks.compare_datacard(rows, self._card, tol=0.0)
        return [f"pass {i} differs from the first pass: {e}" for e in errs]

    def check_run(self) -> list[str]:
        """The first pass's datacard against q209's DuckDB oracle over
        the same corpus."""
        import checks
        import duckdb
        import __spark_entry__ as entry
        con = duckdb.connect()
        try:
            p = os.path.join(self.data, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{p}'")
            want = con.execute(
                entry.oracle_sql()["q209_curation_pipeline"]).fetchall()
        finally:
            con.close()
        if self._card is None:
            return ["no pass completed"]
        return [f"oracle: {e}"
                for e in checks.compare_datacard(self._card, want)]


class IngestDml(Workload):
    """One op is one step of :data:`gen.INGEST_CYCLE`: mutable-table
    DML and stream waves beside notebook cells that read back what was
    written."""
    name = "ingest_dml"
    cycle_len = len(gen.INGEST_CYCLE)
    warmup_ops = len(gen.INGEST_CYCLE)
    cycle_s = 6.5
    min_cycles = 1
    SCHEMA = "k long, v long, tag string"

    def prepare(self, rep: int) -> None:
        from preql_spark.engine import Engine
        self.eng = Engine(self.spark)
        self.eng.create_table(f"prep{rep}", self.SCHEMA)

    def reset(self, warm: bool = False) -> None:
        super().reset(warm)
        self.table = f"items{self.window}"
        self.mt = self.eng.create_table(self.table, self.SCHEMA)
        self.model = gen.TableModel()
        self.store_model = gen.StoreModel()
        base = os.path.join(self.work, f"stream{self.window}")
        self.src, self.ck, self.store = (os.path.join(base, x)
                                         for x in ("src", "ck", "store"))
        os.makedirs(self.src)
        self._min_k = gen.dml_predicate(self.seed, -1)[1] * 500
        self.user_bytes = 0
        self.files_live: list[int] = []

    def kind(self, i: int) -> str:
        return gen.INGEST_CYCLE[i % self.cycle_len]

    def rows(self, i: int) -> int:
        return self._rows

    def _live_files(self) -> int:
        vs = [d for d in os.listdir(self.mt.root)
              if d.startswith("v") and d[1:].isdigit()]
        cur = os.path.join(self.mt.root, max(vs, key=lambda d: int(d[1:])))
        return sum(1 for f in os.listdir(cur) if f.endswith(".parquet"))

    def _read_src(self, kind: str) -> str:
        if kind == "read_agg":
            return f"{self.table}{{n: count(id), s: sum(v), m: max(id)}}"
        return f"{self.table}[k > {self._min_k}]{{n: count(id), s: sum(v)}}"

    @staticmethod
    def _summary(r) -> tuple[int, int, int]:
        """``(count, sum v, max id)`` from a ``read_agg`` row."""
        return r["n"], r["s"] or 0, r["m"] or 0

    def stage(self, i: int, tr) -> None:
        """A wave's crawl file lands in the stream source just before
        the wave; a traced write op snapshots the table's files."""
        import pyarrow.parquet as pq
        if self.kind(i) == "wave":
            self._docs = gen.wave_docs(self.seed, i)
            pq.write_table(self._docs,
                           os.path.join(self.src, f"w{i}.parquet"))
        self._before = _files(self.mt.root) if tr.enabled else None

    def op(self, i: int, tr):
        from pyspark.sql import functions as F
        kind = self.kind(i)
        self._rows = 0
        if kind == "insert_rows":
            rows = gen.insert_batch(self.seed, i)
            with tr.span("mutable.insert_rows"):
                self.mt.insert_rows(rows)
            out = rows
        elif kind == "insert_from":
            rows = gen.insert_from_rows(self.seed, i)
            src = self.spark.createDataFrame(
                [(r["k"], r["v"], r["tag"]) for r in rows], self.SCHEMA)
            with tr.span("mutable.insert_from"):
                self.mt.insert_from(src)
            out = rows
        elif kind in ("update", "delete"):
            mod, rem = gen.dml_predicate(self.seed, i)
            cond = F.col("k") % mod == rem
            with tr.span(f"mutable.{kind}"):
                n = (self.mt.update(cond, v=F.col("v") + 1)
                     if kind == "update" else self.mt.delete(cond))
            out = (mod, rem, n)
        elif kind in ("read_agg", "read_filtered"):
            # a notebook cell, as the Jupyter kernel runs it
            from preql_spark.display import table_repr
            with tr.span("mutable.read"):
                with tr.span("lang.q"):
                    res = self.eng.q(self._read_src(kind))
                if tr.enabled:
                    with tr.span("catalyst.plan"):
                        res.df._jdf.queryExecution().executedPlan()
                with tr.span("display.repr"):
                    html = table_repr(res, fmt="html")
            out = res, html
        elif kind == "wave":
            from preql_spark.streaming.stream import (
                incremental_curation_ingest)
            with tr.span("stream.wave"):
                rep = incremental_curation_ingest(
                    self.spark, self.src, self.ck, self.store, gate="c4")
                out = {r["source"]: (r["n_docs"], r["total_chars"])
                       for r in rep.collect()}
            self._rows = self._docs.num_rows
        else:
            raise ValueError(f"unknown ingest op {kind!r}")
        if tr.enabled and not kind.startswith(("read", "wave")):
            after = _files(self.mt.root)
            tr.checkpoint("write", bytes_written=sum(
                s for p, s in after.items() if self._before.get(p) != s))
        return out

    @staticmethod
    def _row_bytes(k, v, tag) -> int:
        return 8 + 8 + 8 + len(tag)       # id, k, v, tag

    def check(self, i: int, out) -> list[str]:
        import checks
        kind = self.kind(i)
        m = self.model
        if kind in ("insert_rows", "insert_from"):
            m.insert(out)
            self._rows = len(out)
            self.user_bytes += sum(self._row_bytes(r["k"], r["v"], r["tag"])
                                   for r in out)
            return []
        if kind in ("update", "delete"):
            mod, rem, n = out
            hit = [r for r in m.rows.values() if r[0] % mod == rem]
            want = (m.update_add(mod, rem, 1) if kind == "update"
                    else m.delete(mod, rem))
            self._rows = want
            self.user_bytes += sum(self._row_bytes(*r) for r in hit)
            return [] if n == want else [f"{kind} touched {n} rows, "
                                         f"model says {want}"]
        if kind.startswith("read"):
            self.files_live.append(self._live_files())
            res, html = out
            rows = res.df.collect()
            errs = ["cell rendered no table"] \
                if rows and 'class="preql_table"' not in html else []
            if kind == "read_agg":
                return errs + checks.compare_summary(self._summary(rows[0]),
                                                     m.summary())
            r = rows[0]
            return errs + checks.compare_mapping(
                "filtered count and sum", {"n": r["n"], "s": r["s"] or 0},
                m.filtered(self._min_k))
        self.store_model.add_wave(self._docs)
        return checks.compare_mapping("store report", out,
                                      self.store_model.report)

    def window_stats(self) -> dict:
        return {"files_live": self.files_live, "user_bytes": self.user_bytes}

    def end_window(self) -> list[str]:
        """The table against the model once more after the last op."""
        import checks
        r = self.eng.q(self._read_src("read_agg")).df.collect()[0]
        return checks.compare_summary(self._summary(r), self.model.summary())


WORKLOADS = {w.name: w for w in (CurationBatch, IngestDml)}
