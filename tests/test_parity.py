"""Parity battery for the remaining SURVEY §2 surface: nested structs
(box_circle fixture), table methods, imports, distributed enum,
sampling, scalar library."""

import json
import os

import pytest

from pyspark.sql import functions as F

from preql_spark.engine import Engine
from preql_spark.functions import scalar as s


def test_nested_structs_box_circle(spark, eng):
    """FIXTURES.md §3: struct columns + nested field predicates +
    joinall — structs stay native (no name flattening)."""
    boxes = spark.createDataFrame(
        [(1, (0.0, 0.0), (10.0, 10.0)), (2, (5.0, 5.0), (6.0, 6.0))],
        "id long, start struct<x double, y double>, end struct<x double, y double>")
    circles = spark.createDataFrame(
        [(1, (5.0, 5.0), 1.0), (2, (20.0, 20.0), 2.0)],
        "id long, center struct<x double, y double>, radius double")
    from preql_spark import table as tbl
    e = Engine(spark)
    j = tbl.joinall(b=e.from_df(boxes), c=e.from_df(circles))
    inside = j.df.filter(
        (F.col("c.center.x") - F.col("c.radius") >= F.col("b.start.x"))
        & (F.col("c.center.x") + F.col("c.radius") <= F.col("b.end.x"))
        & (F.col("c.center.y") - F.col("c.radius") >= F.col("b.start.y"))
        & (F.col("c.center.y") + F.col("c.radius") <= F.col("b.end.y")))
    got = {(r["b"]["id"], r["c"]["id"]) for r in inside.collect()}
    assert got == {(1, 1)}


def test_table_methods(spark):
    """FIXTURES.md §4: method declared on the table usable in
    projections and filters (Square.area() = size*size)."""
    e = Engine(spark)
    df = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id long, size double")
    sq = e.register("square", df,
                    methods={"area": lambda t: t.size * t.size})
    out = sq.project("id", area=lambda t: t.area).order("id").collect()
    assert [r.area for r in out] == [4.0, 16.0]
    assert sq.filter(lambda t: t.area > 10).one().id == 2
    # methods survive through operators
    assert sq.filter(lambda t: t.size > 2).project(a=lambda t: t.area) \
             .one().a == 16.0


def test_import_csv_json_pandas(spark, tmp_path):
    import pandas as pd
    e = Engine(spark)
    csv = tmp_path / "t.csv"
    csv.write_text("a,b\n1,x\n2,y\n")
    t = e.import_csv(str(csv))
    assert sorted((r.a, r.b) for r in t.collect()) == [(1, "x"), (2, "y")]

    jl = tmp_path / "t.jsonl"
    jl.write_text("\n".join(json.dumps({"a": i, "b": f"v{i}"}) for i in range(3)))
    t2 = e.import_json(str(jl))
    assert t2.count() == 3

    tabs = e.import_pandas(pdt=pd.DataFrame({"x": [1, 2, 3]}))
    assert tabs["pdt"].count() == 3
    assert "pdt" in e.tables()


def test_distributed_enum_matches_window_enum(eng):
    a = eng.t.nation.enum(order_by="n_name").df.select("index", "n_name")
    b = eng.t.nation.enum(order_by="n_name", distributed=True) \
        .df.select("index", "n_name")
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sampling(eng):
    t = eng.t.customer
    n = t.count()
    r = t.sample_ratio(0.1).count()
    assert 0 < r < n
    s_ = t.sample_n(50)
    assert s_.count() <= 50 * 1.3


def test_scalar_library(spark, eng):
    row = (eng.t.region
           .project(a=s.char(F.lit(66)),
                    b=s.char_ord(F.lit("B")),
                    c=s.str_slice(F.lit("hello"), 1, 3),
                    d=s.round_(F.lit(2.567), 1),
                    e=s.power(F.lit(2), F.lit(10)),
                    f=s.to_int(F.lit("42")),
                    g=s.json_get(F.lit('{"k": 7}'), "$.k"),
                    h=s.str_index(F.lit("lo"), F.lit("hello")))
           .limit(1).one())
    assert (row.a, row.b, row.c, row.d, row.e, row.f, row.g, row.h) == \
        ("B", 66, "el", 2.6, 1024.0, 42, "7", 3)


def test_add_index_noop(eng):
    eng.add_index("customer", ["c_custkey"], unique=True)  # no-op, no error


def test_page(eng):
    p2 = eng.t.customer.order("c_custkey").page(2, 10).collect()
    assert [r.c_custkey for r in p2] == list(range(10, 20))


def test_embedding_api(eng, tmp_path):
    """Python embedding surface (reference preql/api.py:117-257):
    callable engine, lang-function delegates, attribute get/set into
    the language namespace, script loading."""
    import pandas as pd

    # p("code", **args)
    t = eng('[1, 2]{item + 1}')
    assert sorted(r[0] for r in t.collect()) == [2, 3]
    assert eng('nation[n_nationkey < lim]', lim=3).df.count() == 3

    # p.my_func(args) delegate with scalar localization
    eng.q('func embed_markup(x) = x * 2 + 1')
    assert eng.embed_markup(10) == 21
    eng.q('func embed_pick(t, lim) = t[n_nationkey < lim]')
    assert eng.embed_pick(eng.t.nation, 4).df.count() == 4
    assert "embed_markup" in repr(eng.embed_markup)

    # p.x = value binds language variables (scalar / list / pandas)
    eng.embed_threshold = 20
    assert eng('count(nation[n_nationkey >= embed_threshold])') == 5
    eng.embed_list = [5, 6, 7]
    assert sorted(r.item for r in eng.q('embed_list').collect()) == [5, 6, 7]
    eng.embed_pdt = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    assert eng.q('embed_pdt{a}').df.count() == 2
    # ...and reads back through attribute access
    assert eng.embed_threshold == 20

    # p.load(filename)
    script = tmp_path / "s.pql"
    script.write_text("func embed_sq(x) = x * x\nembed_sq(7)")
    assert eng.load(str(script)) == 49

    # engine attributes are NOT diverted
    assert callable(eng.q) and eng.spark is not None
    with pytest.raises(AttributeError):
        eng.no_such_binding_xyz


def test_display_surface(eng):
    """Reference display.py parity: bounded count, preview shape,
    text/html rendering, truncation marker (display.py:80-231)."""
    from preql_spark import display
    # bounded count never exceeds the ceiling
    n, s = display.bounded_count(eng.t.nation)
    assert (n, s) == (25, "=25")
    big = eng.t.lineitem
    n2, s2 = display.bounded_count(big)
    if n2 == display.MAX_AUTO_COUNT:
        assert s2.startswith(">=")
    txt = eng.t.nation.preview()
    assert txt.splitlines()[0].startswith("table nation =25")
    assert "n_name" in txt and "NATION_0" in txt
    assert "..." in txt          # 25 rows > PREVIEW_SHELL
    # offset paging (reference table_more)
    txt2 = eng.t.nation.preview(offset=16)
    assert "[16..]" in txt2.splitlines()[0]
    assert "..." not in txt2     # the tail fits
    # html form, escaped + marked up like the reference
    h = eng.t.region._repr_html_()
    assert 'class="preql_table"' in h and "<th>r_name</th>" in h
    assert "<pre>table region =5</pre>" in h
    # nulls render as '-', bools as true/false (pql_repr rules)
    df = eng.spark.createDataFrame([(None, True)], "a string, b boolean")
    t = eng.from_df(df)
    row = t.preview().splitlines()[-1]
    assert "-" in row and "true" in row
    # inline repr
    assert display.table_inline_repr(eng.t.region, 2).startswith("[{")


def _two_action_repr(table, total, offset=0, fmt="text"):
    """The previous ``display.table_repr``: a bounded count (passed in
    as ``total``, one per table), then a separate preview collect —
    kept as the golden reference."""
    from preql_spark import display
    count, count_str = total
    size = display.PREVIEW_HTML if fmt == "html" else display.PREVIEW_SHELL
    rows = display.preview_rows(table, size, offset)
    has_more = offset + len(rows) < count
    name = getattr(getattr(table, "meta", None), "name", "") or ""
    if name == "anon":
        name = ""
    f = display.html_table if fmt == "html" else display.text_table
    return f(name, count_str, rows, offset, has_more)


def test_table_repr_one_action_golden_grid(spark, monkeypatch):
    """One collect per cell renders byte-identically to the two-action
    form for every (n, offset, fmt) edge, and the bounded count runs
    only when the preview cannot settle it: a saturated preview, an
    empty page past a non-zero offset, or the MAX_AUTO_COUNT ceiling."""
    from pyspark.sql.classic.dataframe import DataFrame
    from preql_spark import display
    e = Engine(spark)
    real_count = DataFrame.count
    calls = []

    def counted(self):
        calls.append(1)
        return real_count(self)

    for fmt, size in (("text", display.PREVIEW_SHELL),
                      ("html", display.PREVIEW_HTML)):
        for n in (0, 1, size, size + 1, 10_050):
            df = spark.range(n, numPartitions=1).select(
                "id", (F.col("id") * 0.5).alias("x"),
                F.concat(F.lit("<r"), F.col("id").cast("string"),
                         F.lit(">")).alias("s"))
            t = e.register("nums", df) if n == 1 else e.from_df(df)
            total = display.bounded_count(t)
            for offset in (0, 3, n + 5):
                want = _two_action_repr(t, total, offset, fmt)
                calls.clear()
                with monkeypatch.context() as m:
                    m.setattr(DataFrame, "count", counted)
                    got = display.table_repr(t, offset, fmt)
                assert got == want, (n, offset, fmt)
                back = min(max(n - offset, 0), size + 1)
                settles = not (back > size or (offset and not back)
                               or offset + back >= display.MAX_AUTO_COUNT)
                assert len(calls) == (0 if settles else 1), (n, offset, fmt)


def test_table_repr_unsaturated_cell_runs_no_count(eng, monkeypatch,
                                                   spark_jobs):
    """A cell whose preview holds the whole result is one Spark action:
    no ``DataFrame.count``, and an aggregate cell's jobs are only its
    collect's."""
    from pyspark.sql.classic.dataframe import DataFrame
    from preql_spark import display

    def no_count(self):
        raise AssertionError("table_repr ran a count")

    cell = eng.q("region{n: count(r_regionkey)}")
    cell.df.collect()                        # warm: plan + codegen
    with spark_jobs() as alone:
        cell.df.limit(display.PREVIEW_HTML + 1).collect()
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "count", no_count)
        with spark_jobs() as jobs:
            h = display.table_repr(cell, fmt="html")
        assert display.table_repr(eng.t.region).splitlines()[0] \
            == "table region =5"
    assert "<pre>table region =1</pre>" in h and "<td>5</td>" in h
    assert jobs.n == alone.n


def test_serve_rest(eng):
    """Reference serve_rest parity (pql_functions.py:985-1040) on the
    stdlib server: route listing, table pages (bounded), function
    endpoints with path params."""
    import json
    from urllib.request import urlopen
    from preql_spark.rest import serve_rest

    eng.q("func plus(a, b) = a + b")
    srv = serve_rest(eng, {
        "nation": eng.t.nation,
        "plus": eng.plus,
        "index": lambda: "Hello World!",
    }, port=0, block=False)
    base = f"http://127.0.0.1:{srv.server_port}"
    try:
        assert json.load(urlopen(f"{base}/")) == ["index", "nation",
                                                  "plus"]
        rows = json.load(urlopen(f"{base}/nation?limit=3"))
        assert len(rows) == 3 and rows[0]["n_name"].startswith("NATION")
        page2 = json.load(urlopen(f"{base}/nation?limit=3&offset=3"))
        assert page2[0]["n_nationkey"] != rows[0]["n_nationkey"]
        assert json.load(urlopen(f"{base}/plus/2/3")) == 5
        assert json.load(urlopen(f"{base}/index")) == "Hello World!"
        import urllib.error
        try:
            urlopen(f"{base}/nope")
            assert False, "404 expected"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        srv.shutdown()


def test_cli_main(spark, tmp_path, capsys, monkeypatch):
    """Reference CLI surface (/root/reference/preql/__main__.py):
    --version, -f script, --time, and `.preql` dotfile auto-load."""
    from preql_spark.repl import main
    main(["--version"])
    from preql_spark import __version__
    assert __version__ in capsys.readouterr().out
    script = tmp_path / "s.pql"
    script.write_text("x = [1..4]{n: item}\nprint x\n")
    main(["-f", str(script), "--time"])
    out = capsys.readouterr().out
    assert "{'n': 1}" in out and "script took" in out


def test_repl_print_plan(spark, capsys):
    """set_setting("print_plan", true) makes the REPL print the
    physical plan before each table result — the reference's
    --print-sql analogue."""
    from preql_spark.engine import Engine
    from preql_spark.repl import Repl
    from preql_spark import display
    r = Repl(Engine(spark))
    r.run_line('set_setting("print_plan", true)')
    try:
        r.run_line("[1,2]{n: item + 1}")
        out = capsys.readouterr().out
        assert "Physical Plan" in out and "n" in out
    finally:
        display.PRINT_PLAN = False
