"""Preql-syntax front-end tests — specimens mirror the reference's
golden tests (tests/test_basic.py) on the TPC-H-ish fixtures."""

import pytest
from pyspark.sql import functions as F

from preql_spark.table import Table


def test_selection_projection(eng):
    out = eng.q('nation[n_regionkey == 0]{n_name, n_nationkey}')
    rows = out.order("n_nationkey").collect()
    assert all(set(r.asDict()) == {"n_name", "n_nationkey"} for r in rows)
    assert len(rows) == 5


def test_multi_condition_and_arith(eng):
    out = eng.q('customer[c_acctbal >= 1000, c_acctbal < 5000]'
                '{c_custkey, doubled: c_acctbal * 2}')
    r = out.order("c_custkey").limit(1).one()
    assert r.doubled == pytest.approx(2 * eng.q(
        'customer[c_acctbal >= 1000, c_acctbal < 5000]{c_acctbal}')
        .order("c_acctbal").df.collect()[0].c_acctbal, abs=1e6)


def test_groupby_arrow(eng):
    out = eng.q('nation{n_regionkey => n: count()}')
    rows = out.order("n_regionkey").collect()
    assert [r.n for r in rows] == [5, 5, 5, 5, 5]


def test_groupby_bare_column_to_array(eng):
    out = eng.q('nation{n_regionkey => names: n_name}')
    r = out.filter(out.n_regionkey == 0).one()
    assert sorted(r.names) == sorted(
        x.n_name for x in eng.q('nation[n_regionkey == 0]{n_name}').collect())


def test_order_desc_slice(eng):
    out = eng.q('customer order {^c_acctbal, c_custkey} [0..5]')
    rows = out.collect()
    assert len(rows) == 5
    bals = [r.c_acctbal for r in rows]
    assert bals == sorted(bals, reverse=True)


def test_range_literal(eng):
    assert sorted(r.item for r in eng.q('[1..4]').collect()) == [1, 2, 3]
    assert sorted(r.item for r in eng.q('[2, 4, 6]').collect()) == [2, 4, 6]


def test_whole_table_aggregates(eng):
    assert eng.q('count(customer)') == eng.t.customer.count()
    total = eng.q('sum(customer{c_acctbal})')
    assert total == pytest.approx(
        eng.t.customer.df.groupBy().sum("c_acctbal").collect()[0][0])


def test_range_filter_projection_pipeline(eng):
    # reference test specimen: x[item == max(x)] analogue
    out = eng.q('[0..100][item % 10 == 0]{item, sq: item * item}')
    rows = out.order("item").collect()
    assert [r.sq for r in rows] == [i * i for i in range(0, 100, 10)]


def test_join_named_args(eng):
    out = eng.q('join(n: nation, r: region)')
    assert isinstance(out, Table)
    row = out.df.limit(1).collect()[0]
    assert set(row.asDict()) == {"n", "r"}
    assert out.count() == 25


def test_join_projection_dotted(eng):
    out = eng.q('join(n: nation, r: region){nn: n.n_name, rn: r.r_name}')
    assert out.count() == 25
    assert set(out.columns) == {"nn", "rn"}


def test_in_operator(eng):
    out = eng.q('customer[c_mktsegment in ["BUILDING", "MACHINERY"]]{c_custkey}')
    want = eng.t.customer.filter(
        eng.t.customer.c_mktsegment.isin("BUILDING", "MACHINERY")).count()
    assert out.count() == want


def test_like_operator(eng):
    out = eng.q('part[p_name ~ "%cold%"]{p_partkey}')
    assert out.count() == eng.t.part.filter(
        eng.t.part.p_name.like("%cold%")).count()


def test_string_functions(eng):
    out = eng.q('region{up: upper(r_name), ln: length(r_name)}')
    r = out.filter(out.up == "AFRICA").one()
    assert r.ln == 6


def test_date_properties(eng):
    out = eng.q('orders{o_orderkey, y: o_orderdate.year}')
    years = {r.y for r in out.limit(100).collect()}
    assert years <= set(range(1995, 2002))


def test_ellipsis(eng):
    out = eng.q('region{...}')
    assert out.columns == ["r_regionkey", "r_name"]
    out2 = eng.q('region{... !r_name}')
    assert out2.columns == ["r_regionkey"]


def test_set_ops_lang(eng):
    a = eng.q('[1, 2, 3] + [3, 4]')
    assert a.count() == 5
    b = eng.q('[1, 2, 3] & [2, 3, 4]')
    assert sorted(r.item for r in b.collect()) == [2, 3]


def test_value_or_and(eng):
    # Preql and/or value semantics (operands must share a kernel type,
    # like the reference — compiler.py:313-339)
    out = eng.q('customer{c_custkey, v: c_mktsegment and c_name, '
                'w: 0 or c_custkey}')
    sample = out.order("c_custkey").limit(5).collect()
    # segments are non-empty → v is c_name; 0 is falsy → w is custkey
    assert all(r.v.startswith("Customer#") for r in sample)
    assert [r.w for r in sample] == [r.c_custkey for r in sample]


def test_nested_pipeline(eng):
    # selection → group → order → slice, one expression
    out = eng.q('lineitem[l_quantity > 45]'
                '{l_returnflag => n: count()} order {^n} [0..2]')
    rows = out.collect()
    assert len(rows) == 2
    assert rows[0].n >= rows[1].n


def test_distinct_and_enum(eng):
    assert eng.q('distinct(customer{c_mktsegment})').count() == 5
    e = eng.q('enum(region)')
    assert "index" in e.columns


def test_user_func_scalar_inline(eng):
    out = eng.q('func markup(x) = x * 2 + 1;'
                'nation{n_name, m: markup(n_nationkey)}')
    rows = {r.n_name: r.m for r in out.collect()}
    assert rows["NATION_3"] == 7


def test_user_func_table_and_assignment(eng):
    out = eng.q('func rich(t, lim) = t[c_acctbal > lim];'
                'r = rich(customer, 5000);'
                'r{c_mktsegment => n: count()}')
    total = sum(d["n"] for d in out.to_json())
    expect = eng.t.customer.filter(F.col("c_acctbal") > 5000).count()
    assert total == expect


def test_user_func_nested_and_kwargs(eng):
    out = eng.q('func double(x) = x + x;'
                'func quad(x) = double(double(x));'
                'nation{n_name, q: quad(x: n_nationkey)}')
    rows = {r.n_name: r.q for r in out.collect()}
    assert rows["NATION_5"] == 20


def test_user_func_errors(eng):
    import pytest as _pt
    with _pt.raises(TypeError):
        eng.q('func f(x) = x + 1; f(1, 2)')
    with _pt.raises(TypeError):
        eng.q('func f(x) = x + 1; f()')


def test_one_prefix(eng):
    r = eng.q('one nation[n_nationkey == 3]')
    assert r.n_name == "NATION_3"
    assert eng.q('one? nation[n_nationkey == 99]') is None
    with pytest.raises(ValueError):
        eng.q('one nation')


def test_if_else_expression(eng):
    out = eng.q('customer{c_custkey, tier:'
                ' if (c_acctbal > 5000) "gold" else "std"}')
    rows = {r.c_custkey: r.tier for r in out.collect()}
    gold = {r.c_custkey for r in eng.t.customer
            .filter(F.col("c_acctbal") > 5000).collect()}
    assert all((k in gold) == (v == "gold") for k, v in rows.items())


def test_theta_join_on(eng):
    out = eng.q('join(c: customer, o: orders, on: c.c_custkey == o.o_custkey)'
                '{n: c.c_name, k: o.o_orderkey}')
    assert out.count() == eng.t.orders.count()
    # self theta-join: strict upper triangle of nation x nation
    out2 = eng.q('join(a: nation, b: nation, on: a.n_nationkey < b.n_nationkey)')
    assert out2.count() == 25 * 24 // 2
    with pytest.raises(AttributeError):
        eng.q('join(a: nation, b: region, on: a.nope == b.r_regionkey)')


def test_scalar_localization_and_power(eng):
    assert eng.q('"preql" in "preql_spark"') is True
    assert eng.q('"xyz" !in "preql_spark"') is True
    assert eng.q('2 ** 10') == 1024.0
    assert eng.q('2 * 3 ** 2') == 18.0          # ** binds tighter
    assert eng.q('2 ** 3 ** 2') == 512.0        # right-associative
    assert eng.q('upper("abc")') == "ABC"
    # column context still lazy: table stays a Table
    out = eng.q('nation{n_nationkey, p: 2 ** n_nationkey}')
    rows = {r.n_nationkey: r.p for r in out.collect()}
    assert rows[10] == 1024.0


def test_string_concat_repeat(eng):
    assert eng.q('"ab" + "cd"') == "abcd"
    assert eng.q('"ab" * 3') == "ababab"
    out = eng.q('nation[n_nationkey == 3]{x: n_name + "!"}')
    assert out.collect()[0].x == "NATION_3!"
    out2 = eng.q('nation[n_nationkey == 3]{x: n_name * 2}')
    assert out2.collect()[0].x == "NATION_3NATION_3"
    # numeric + unaffected
    assert eng.q('2 + 3') == 5


def test_fmt_and_stdlib_funcs(eng):
    out = eng.q('nation[n_nationkey == 3]'
                '{msg: fmt("nation $n_name is in region $n_regionkey")}')
    assert out.collect()[0].msg == "nation NATION_3 is in region 3"
    assert eng.q('char_range("a", "d")') == ["a", "b", "c", "d"]
    assert eng.q('is_empty(nation[n_nationkey == 999])') is True
    assert eng.q('count(page(nation, 1, 10))') == 10
    assert abs(eng.q('pi()') - 3.141592653589793) < 1e-12
    n = eng.q('count(sample_ratio_fast(customer, 0.5))')
    assert 0 < n < eng.t.customer.count()


def test_string_slicing(eng):
    assert eng.q('"hello"[1..3]') == "el"
    assert eng.q('"hello"[2]') == "l"
    assert eng.q('"hello"[2..]') == "llo"
    assert eng.q('"hello"[..2]') == "he"
    out = eng.q('nation[n_nationkey == 7]{x: n_name[0..6]}')
    assert out.collect()[0].x == "NATION"


# ---- statements: control flow, signals, DDL/DML ---------------------
# Specimens ported from reference tests/test_basic.py (update/delete:
# :323-347; transactions: :1570-1606; new-freezes: TestFlow).

@pytest.fixture()
def leng(spark):
    """Fresh engine per test: statement tests mutate the persistent
    lang namespace and the mutable-table registry."""
    from preql_spark.engine import Engine
    return Engine(spark)


def test_lang_update_basic(leng):
    leng.q('''
    table Point {x: int, y: int}

    new Point(1,3)
    new Point(2,7)
    new Point(3,1)
    new Point(4,2)

    const table backup = Point

    func p2() {
        Point[x==3] update{y: y + 13}
        return Point[x==3]
    }
    func p() = p2() {...!id}
    ''')
    assert [r.asDict() for r in leng.q('p()').collect()] == [{'x': 3, 'y': 14}]
    assert [r.asDict() for r in leng.q('p()').collect()] == [{'x': 3, 'y': 27}]
    assert leng.q('list(backup[x==3]{y})') == [1]
    leng.q('backup[x==3] update {y: x+y}')
    assert leng.q('list(backup[x==3]{y})') == [4]


def test_lang_delete_and_insert(leng):
    leng.q('''
    table Point {x: int, y: int}
    new Point(1,1)
    new Point(2,2)
    new Point(3,3)
    Point delete [x == 2]
    ''')
    assert sorted(leng.q('list(Point{x})')) == [1, 3]
    leng.q('Point += Point{x: x + 10, y: y}')
    assert sorted(leng.q('list(Point{x})')) == [1, 3, 11, 13]
    # ids regenerated, unique
    ids = leng.q('list(Point{id})')
    assert len(set(ids)) == 4


def test_lang_control_flow(leng):
    leng.q('''
    total = 0
    for (i in [1..5]) {
        total = total + i
    }
    n = 0
    while (n < 4) { n = n + 1 }
    ''')
    assert leng.q('total') == 10
    assert leng.q('n') == 4
    assert leng.q(
        'v = 7\n'
        'if (v < 5) { r = "lo" } else if (v < 10) { r = "mid" }'
        ' else { r = "hi" }\n'
        'r') == "mid"
    # expression-form if still works
    assert leng.q('if (1 > 2) "a" else "b"') == "b"


def test_lang_try_throw_assert(leng):
    out = leng.q('''
    caught = "none"
    try {
        throw new ValueError("boom")
    } catch (e: ValueError) {
        caught = e
    }
    caught
    ''')
    from preql_spark.lang import LangSignal
    assert isinstance(out, LangSignal) and out.message == "boom"
    # type mismatch propagates
    with pytest.raises(LangSignal):
        leng.q('try { throw new KeyError("k") } catch (ValueError) { }')
    # assert raises AssertError (catchable as Exception)
    with pytest.raises(LangSignal, match="Assertion failed"):
        leng.q('assert 1 == 2')
    leng.q('assert 1 == 1')


def test_lang_transactions(leng):
    # reference test_transaction1: rollback undoes the insert
    leng.q('''
    table a {
        x: int
    }

    try{
        transaction {
            new a(4)
            throw new Exception("Some Error")
        }
    } catch(Exception) {
    }

    table a {
        x: int
    }
    ''')
    assert leng.q('count(a)') == 0
    leng.drop_table("a")
    # reference test_transaction2: caught inside → commit
    leng.q('''
    table a {
        x: int
    }

    transaction {
        try{
            new a(5)
            throw new Exception("A")
        } catch(Exception) {
        }
    }
    ''')
    assert leng.q('list(a{x})') == [5]


def test_lang_new_freezes_values(leng):
    # reference TestFlow.test_new_freezes_values (issue #7)
    leng.q('''
    table a{x: float}
    row = new a(random())
    assert row.x in a{x}
    ''')


def test_lang_table_from_expr_and_comments(leng):
    leng.load_dir("/root/testdata/sf0.001")
    leng.q('''
    // CTAS from a query expression
    table rich = customer[c_acctbal > 9000]{c_custkey, c_acctbal}
    # rows survive re-reads
    ''')
    n = leng.q('count(rich)')
    assert n == leng.t.customer.filter(F.col("c_acctbal") > 9000).count()
    assert "id" in leng.q('rich').df.columns


# ---- ellipsis edge semantics (reference test_basic.py:108-140) ------

@pytest.fixture()
def person_eng(spark):
    from preql_spark.engine import Engine
    eng = Engine(spark)
    df = spark.createDataFrame(
        [(1, "Erez Shinan", "Israel"), (2, "Eric Blaire", "England"),
         (3, "H.G. Wells", "England")],
        "id: long, name: string, country: string")
    eng.register("Person", df, pk="id")
    return eng


def _cols(t):
    return t.df.columns


def test_ellipsis_positions(person_eng):
    q = person_eng.q
    assert [r.name for r in
            q('Person {name, ...}[name=="Erez Shinan"]{name}').collect()] \
        == ["Erez Shinan"]
    assert _cols(q('Person {name, ...}')) == ['name', 'id', 'country']
    assert _cols(q('Person {country, ...}')) == ['country', 'id', 'name']
    assert _cols(q('Person {..., id}')) == ['name', 'country', 'id']
    assert _cols(q('Person {country, ..., id}')) == ['country', 'name', 'id']


def test_ellipsis_direct_name_hiding(person_eng):
    q = person_eng.q
    # a named field whose value is a plain column ref hides that column
    assert _cols(q('Person {name2: name, ...}')) == ['name2', 'id', 'country']
    assert _cols(q('Person {name2: name, ..., name3: name}')) \
        == ['name2', 'id', 'country', 'name3']
    assert _cols(q('Person {name: name, ...}')) == ['name', 'id', 'country']
    # ...but a computed expression does NOT hide its source column
    assert _cols(q('Person {name2: name+"!", ...}')) \
        == ['name2', 'id', 'name', 'country']
    assert _cols(q('Person {name2: name+"!", ..., name3: name+"!"}')) \
        == ['name2', 'id', 'name', 'country', 'name3']
    assert _cols(q('Person {name2: name+"!", ..., name3: name}')) \
        == ['name2', 'id', 'country', 'name3']


def test_ellipsis_errors(person_eng):
    from preql_spark.lang import LangSignal
    q = person_eng.q
    with pytest.raises(SyntaxError):
        q('Person {x: ...}')
    with pytest.raises(LangSignal, match="not found"):
        q('Person {... !hello}')          # exclude of unknown field
    with pytest.raises(LangSignal, match="included"):
        q('Person {name, ... !name}')     # exclude of included field
    # excluding every column is a TypeError (test_basic.py:139)
    with pytest.raises(LangSignal, match="empty"):
        q('[3]{... !item}')
    # ...and the signals carry reference type names (isa-checkable)
    try:
        q('[3]{... !hello}')
    except LangSignal as e:
        assert e.isa("NameError")


def test_ellipsis_exclude_positions(person_eng):
    q = person_eng.q
    assert _cols(q('Person {name, ... !id !country}')) == ['name']
    assert _cols(q('Person {country, ... !name}')) == ['country', 'id']
    assert _cols(q('Person {... !name, id}')) == ['country', 'id']
    assert _cols(q('Person {country, ... !name, id}')) == ['country', 'id']


def test_struct_inline(person_eng):
    q = person_eng.q
    spark = person_eng.spark
    df = spark.createDataFrame(
        [(1, {"a": 10, "b": "x"})], "k: long, s: struct<a: long, b: string>")
    person_eng.register("S", df)
    assert _cols(q('S {k, s {...}}')) == ['k', 'a', 'b']
    assert _cols(q('S {s {... !a}, k}')) == ['b', 'k']
    assert q('list(S {s {... !a}, k}{b})') == ["x"]


# ---- reflection + SQL() escape hatch --------------------------------

def test_reflection_builtins(leng):
    # pql_functions.py:246-278 examples, verbatim
    assert leng.q('isa(1, int)') is True
    assert leng.q('isa(1, string)') is False
    assert leng.q('isa(1.2, number)') is True
    assert leng.q('isa([1], table)') is True
    assert leng.q('issubclass(int, number)') is True
    assert leng.q('issubclass(int, table)') is False
    assert leng.q('issubclass(list, table)') is True
    from preql_spark.lang import _TypeRef
    assert leng.q('type(1)') == _TypeRef("int")
    assert leng.q('type(1.5)') == _TypeRef("float")
    assert leng.q('type([1])') == _TypeRef("list")
    assert leng.q('repr(1)') == "1"
    assert leng.q('repr("he")') == '"he"'
    assert leng.q('repr(true)') == "true"
    assert leng.q('repr(null)') == "null"


def test_sql_escape_hatch(leng):
    # scalar SQL in row context (pql_SQL docstring example)
    t = leng.q("""x2 = ["a", "b"]{item: SQL(string, "$item || '!'")}
                  x2""")
    assert sorted(r.item for r in t.collect()) == ["a!", "b!"]
    # table SQL with $var binding (docstring example 2)
    leng.q('x = ["a", "b", "c"]')
    t2 = leng.q('SQL(table, "SELECT item || \'!\' AS item FROM $x")')
    assert sorted(r.item for r in t2.collect()) == ["a!", "b!", "c!"]
    # unbound variable raises
    with pytest.raises(NameError):
        leng.sql("SELECT * FROM $nope")


def test_sql_self_recursion(leng):
    # $self recursion (pql_functions.py:93: "allows to perform
    # recursion") via Spark 4 WITH RECURSIVE
    t = leng.sql("SELECT 1 AS n UNION ALL SELECT n+1 FROM $self WHERE n < 10")
    assert sorted(r.n for r in t.collect()) == list(range(1, 11))
    f = leng.sql("SELECT 1 AS n, CAST(1 AS LONG) AS f "
                 "UNION ALL SELECT n+1, f*(n+1) FROM $self WHERE n < 10")
    assert max((r.n, r.f) for r in f.collect()) == (10, 3628800)


def test_lazy_dollar_params(eng):
    """Reference `$param` lazy parameters (evaluate.py:597): the
    call-site expression is captured unevaluated and compiles where the
    body references it — so predicates can name columns that only
    exist inside the function."""
    out = eng.q('''
func filt(t, $cond) = t[$cond]
filt(nation, n_nationkey < 3)
''')
    assert out.df.count() == 3
    # as a projection expression
    out2 = eng.q('''
func add_col(t, $e) = t {..., extra: $e}
add_col(region, r_regionkey * 10)
''')
    assert sorted(r.extra for r in out2.collect()) == [0, 10, 20, 30, 40]
    # keyword spelling `$cond:` binds the same lazy slot
    out3 = eng.q('''
func filt2(t, $cond) = t[$cond]
filt2(nation, $cond: n_nationkey < 3)
''')
    assert out3.df.count() == 3
    # plain `cond:` spelling also accepted for a `$cond` parameter
    out4 = eng.q('''
func filt3(t, $cond) = t[$cond]
filt3(nation, cond: n_nationkey >= 20)
''')
    assert out4.df.count() == 5
    # lazy params on both sides of the aggregation arrow
    out5 = eng.q('''
func agg_by(t, $k, $v) = t { $k => total: sum($v) }
agg_by(nation, n_regionkey, n_nationkey)
''')
    rows = out5.order("n_regionkey").collect()
    assert len(rows) == 5 and rows[0].total == 0 + 5 + 10 + 15 + 20


def test_join_dollar_on_spelling(eng):
    """`$on:` — the reference spelling of the join condition kwarg
    (pql_functions.py:541,1142) — is accepted alongside `on:`."""
    out = eng.q('join(a: nation, b: nation,'
                ' $on: a.n_nationkey < b.n_nationkey)')
    assert out.df.count() == 25 * 24 // 2


def test_join_by_column_spelling(eng):
    """`join(a: t1.x, b: t2.y)` — the reference's join-by-column
    operands (pql_functions.py join; used throughout the reference
    tests, e.g. tests/test_autocomplete.py test_attr) name the join
    keys directly."""
    out = eng.q('join(n: nation.n_regionkey, r: region.r_regionkey)'
                '{nn: n.n_name, rn: r.r_name}')
    assert out.df.count() == 25
    # equivalent to the explicit on: spelling
    out2 = eng.q('join(n: nation, r: region,'
                 ' on: n.n_regionkey == r.r_regionkey)'
                 '{nn: n.n_name, rn: r.r_name}')
    assert sorted(map(tuple, out.collect())) \
        == sorted(map(tuple, out2.collect()))
    # left join keeps unmatched left rows
    out3 = eng.q('leftjoin(l: ["NATION_1", "NO_SUCH"].item,'
                 ' u: nation.n_name)')
    rows = out3.collect()
    assert len(rows) == 2
    matched = {r.l.item: r.u for r in rows}
    assert matched["NO_SUCH"] is None or matched["NO_SUCH"].n_name is None
    assert matched["NATION_1"].n_name == "NATION_1"
    # a non-terminal `.col` inside a join kwarg is still a plain read
    out4 = eng.q('x = nation\n'
                 'join(a: x, b: region, on: a.n_regionkey == b.r_regionkey)')
    assert out4.df.count() == 25


def test_partial_table_declaration(eng):
    """`table foo {...}` where foo exists connects to it — declared
    columns validated against the live schema, `...` merges the rest
    (reference evaluate.py:220-262)."""
    out = eng.q('table nation {n_name: string, ...}\nnation')
    assert out.df.columns == ["n_name", "n_nationkey", "n_regionkey"]
    # without ellipsis: declared columns only (select_fields)
    out2 = eng.q('table region {r_name: string}')
    assert out2.df.columns == ["r_name"]
    # declared column must exist
    from preql_spark.lang import LangSignal
    with pytest.raises(LangSignal, match="doesn't exist"):
        eng.q('table region {nope: int, ...}')
    # `...` requires the table to exist
    with pytest.raises(LangSignal, match="does not exist"):
        eng.q('table never_made_q {x: int, ...}')
    # ellipsis must be last
    with pytest.raises(LangSignal, match="at the end"):
        eng.q('table nation {..., n_name: string}')


def test_partial_declaration_mutable_dml(leng):
    """Reconnecting a partial declaration to a mutable table keeps the
    DML path live: the read view projects declared(+merged) columns,
    update/delete still hit full storage rows."""
    leng.q('''
    table pdecl {n_name: string, n_regionkey: int}
    new pdecl("A", 0); new pdecl("B", 0); new pdecl("C", 1)
    ''')
    out = leng.q('''
table pdecl {n_name: string, ...}
pdecl[n_regionkey == 0] update {n_name: n_name + "_X"}
pdecl
''')
    assert out.df.filter(out.df.n_name.endswith("_X")).count() == 2
    assert out.df.columns[0] == "n_name"


def test_interactive_builtins(eng):
    """names()/help()/tables() — pql_functions.py:735-813."""
    t = eng.q('tables()')
    assert {"nation", "region"} <= {r.name for r in t.collect()}
    n = eng.q('names()')
    got = {r.name: r.type for r in n.collect()}
    assert got.get("nation") == "table"
    assert got.get("sum") == "function"
    cols = eng.q('names(nation)')
    assert [(r.name, r.type) for r in cols.order("name").collect()] == [
        ("n_name", "string"), ("n_nationkey", "int"),
        ("n_regionkey", "int")]
    assert "names()" in eng.q('help()')
    assert eng.q('help(nation)').startswith("table nation {")
    eng.q('func myf(a, b) = a + b')
    assert eng.q('help(myf)').startswith("func myf(a, b)")


def test_repl_mechanics(eng, capsys):
    """REPL line handling: balanced-bracket continuation, table
    preview with '.'-paging, errors surfaced not fatal."""
    from preql_spark.repl import Repl, _balanced
    assert _balanced("nation{n_name}")
    assert not _balanced("nation{")
    assert not _balanced('"unclosed')
    assert _balanced('"{"')          # brackets inside strings ignored
    r = Repl(eng)
    r.run_line("nation[n_nationkey < 3]{n_name}")
    out = capsys.readouterr().out
    assert "NATION_0" in out and "NATION_2" in out
    r.run_line("1 + 2")
    assert capsys.readouterr().out.strip() == "3"
    r.run_line("true")
    assert capsys.readouterr().out.strip() == "true"
    r.run_line("no_such_name_xyz")
    assert "NameError" in capsys.readouterr().err


def test_breakpoint_repl_continue(eng, capsys, monkeypatch):
    """The breakpoint sub-REPL's `c`/`continue` exit (reference
    breakpoint_funcs, pql_functions.py:831-833): the nested loop
    runs statements until the continue spelling — bare or with
    parens — returns control; Ctrl-D (EOF) still exits too."""
    from preql_spark.repl import Repl
    for stop in ("c", "c()", "continue", "continue()"):
        feed = iter(["1 + 2", stop, "SHOULD NOT RUN"])
        monkeypatch.setattr("builtins.input", lambda _p: next(feed))
        Repl(eng).interact(prompt="debug> ",
                           exit_commands=("c", "continue"))
        out = capsys.readouterr().out
        assert "3" in out and "SHOULD NOT RUN" not in out
    # without exit_commands, `c` is an ordinary (unknown) name
    feed = iter(["c"])
    monkeypatch.setattr("builtins.input", lambda _p: next(feed))
    try:
        Repl(eng).interact()
    except StopIteration:
        pass                      # fed lines exhausted — loop alive
    assert "NameError" in capsys.readouterr().err


def test_partial_table_golden(leng):
    """Ported reference test_partial_table (test_basic.py:1246-1276):
    nullable marker, text type, `A = null` unbind, reconnect via
    partial declaration, `one one` scalar unwrap."""
    leng.q('table A {a: int, b: int?, c: string, d: float,'
           ' e: bool, g: text}')
    leng.q('new A(1, null, "hello", 3.14, true, "world")')
    assert leng.q('A = null') is None
    assert leng.A is None
    out = leng.q('''
table A {
    d: float
    c: string
    e: bool
}
count(A[c ~ "hello"])
''')
    assert out == 1
    assert leng.q('count(A[c ~ "hell"])') == 0
    assert leng.q('one one A{d}') == 3.14


def test_column_default_golden(leng):
    """Ported reference test_column_default (test_basic.py:1055-1068)."""
    leng.q('''
table B {
    x: int
    y: int = 2
}
a1 = new B(1)
a2 = new B(2, 1)
''')
    assert [r.y for r in leng.q('B{y} order {^y}').collect()] == [2, 1]
    assert leng.q('a2.y') == 1


def test_vararg_golden(leng):
    """Ported reference test_vararg (test_basic.py:682-697): `...x`
    collects keyword args as a row, attribute access chains, and
    `f(...x)` re-splats."""
    leng.q('func fv(...x) = x')
    assert leng.q('fv(a:1, b:2)') == {"a": 1, "b": 2}
    assert leng.q('fv(a:1, b:fv(c:3, d:4)).b.c') == 3
    leng.q('x1 = fv(a:1, b:2)\nx2 = fv(...x1)')
    assert leng.x1 == leng.x2 == {"a": 1, "b": 2}


def test_list_ops_golden(leng):
    """Ported reference test_list_ops (test_basic.py:832-887)."""
    from preql_spark.lang import LangSignal
    q = leng.q
    assert [r.item for r in q('[1,2,3]').order("item").collect()] == [1, 2, 3]
    assert sorted(r.item for r in q('[1,2,3] + [5,6]').collect()) == \
        [1, 2, 3, 5, 6]
    assert sorted(r.item for r in q('[1,2,3] | [3,4]').collect()) == \
        [1, 2, 3, 4]
    assert sorted(r.item for r in q('[1,2,3] - [3,4]').collect()) == [1, 2]
    assert sorted(r.v for r in q('[1,2,3]{v:item*2}[v < 5]').collect()) == \
        [2, 4]
    assert sorted(r.v for r in q('[1,2,3]{v:item*2}[v in [2,6]]')
                  .collect()) == [2, 6]
    assert [r.v for r in q('[1,2,3]{v:item*2}[v !in [2,6]]').collect()] == [4]
    assert sorted(r.item for r in q('enum([1,8,4,4])[index+1==item]{item}')
                  .collect()) == [1, 4]
    assert sorted(r.item for r in q('[1,2,3][..2]').collect()) == [1, 2]
    assert sorted(r.item for r in q('[1,2,3][1..]').collect()) == [2, 3]
    assert [r.item for r in q('[1,2,3][1..2]').collect()] == [2]
    assert q('[1,2,3][1..1]').count() == 0
    assert q('[] {x:0}').count() == 0
    with pytest.raises(LangSignal, match="share a type"):
        q('["a", 1]')
    with pytest.raises(LangSignal, match="already used"):
        q('[1] {a: 1, a: 2}')
    with pytest.raises(LangSignal, match="already used"):
        q('[1] {a: 1 => a: 2}')
    row = q('[1] {null, null => null, null}').one()
    assert list(row.asDict().values()) == [None, None, None, None]


def test_strings_golden(leng):
    """Ported reference test_strings (test_basic.py:580-595)."""
    q = leng.q
    assert q('upper("ba")') == "BA"
    assert q('lower("BA")') == "ba"
    assert q('"ba" in "kabab"') is True
    assert q('"ba" !in "kabab"') is False
    assert q('"bak" in "kabab"') is False
    assert q('"hello"[0..3]') == "hel"
    assert q('"hello"[1..]') == "ello"
    assert q('"hello"[..1]') == "h"
    assert q('"hello"[2..4]') == "ll"
    assert q('length("hello")') == 5
    assert q('list(["hello"]{length(item)})') == [5]


def test_casts_golden(leng):
    """Ported reference test_casts (test_basic.py:597-610)."""
    from preql_spark.lang import _TypeRef
    q = leng.q
    assert q('type(float(1))') == _TypeRef("float")
    assert q('type(int(float(1)))') == _TypeRef("int")
    assert isinstance(q('list[float]([1,2])').collect()[0].item, float)
    assert isinstance(
        q('list[int](list[float]([1,2]))').collect()[0].item, int)
    assert sorted(r.item for r in q('list[int]([1.2, 3.4])').collect()) \
        == [1, 3]
    assert q('list(list([1,2]{item+1}){item+1})') == [3, 4]
    assert q('list(["1", "2"]{int(item)})') == [1, 2]


def test_range_golden(leng):
    """Ported reference test_range (test_basic.py:625-645): open
    series stay symbolic until sliced."""
    from preql_spark.lang import LangSignal
    leng.q('func to20() = [..20]\nfunc abc() = [1..3]\nfunc adult() = [18..]')
    assert leng.q('list(to20())') == list(range(20))
    assert leng.q('list(abc())') == [1, 2]
    assert leng.q('list(adult()[..10])') == list(range(18, 28))
    assert leng.q('list(adult()[..10] + adult()[..1])') == \
        list(range(18, 28)) + [18]
    assert leng.q('list( (adult()[..10] + adult()[..1]) {item + 1} )') == \
        list(range(19, 29)) + [19]
    with pytest.raises(LangSignal, match="slicing"):
        leng.q('count([18..])')


def test_anonymous_field_names(leng):
    """Guessed projection names (compiler.py:132-148) with collision
    auto-suffix (compiler.py:231-243): '_' default, function name for
    calls, last attribute for dotted access."""
    row = leng.q('[1] {item + 1, item + 2}').one()
    assert list(row.asDict()) == ["_", "_1"]
    assert list(leng.q('[1] {count()}').one().asDict()) == ["count"]
    assert leng.q('func in_list2(x) = [1,2,3] {item in x{item}}\n'
                  'list(in_list2([2, 3]))') == [False, True, True]


def test_compare_golden(leng):
    """Ported reference test_compare (test_basic.py:787-829)."""
    from preql_spark.lang import LangSignal
    q = leng.q
    assert q('3 != "3"') is True
    assert q('null != 1') is True
    assert q('1 == 1') is True
    assert q('1 != 2') is True
    assert q('1 > 2') is False
    assert q('2 >= 1') is True
    assert q('"a" == "a"') is True
    assert q('"a" != "b"') is True
    assert q('1 in [1,2,3]') is True
    assert q('1 !in [1,2,3]') is False
    assert q('4 in [1,2,3]') is False
    # auto-casts across the literal membership boundary
    assert q("'4' in [1,2,3]") is False
    assert q("'3' in [1,2,3]") is True
    with pytest.raises(LangSignal, match="compare"):
        q('2 > "a"')
    with pytest.raises(LangSignal, match="compare"):
        q('1 == [2]')
    with pytest.raises(LangSignal, match="member"):
        q('[1] in [2]')
    assert q('null == null') is True
    assert q('null != null') is False
    assert q('"a" != null') is True


def test_nonzero_golden(leng):
    """Ported reference test_nonzero (test_basic.py:1031-1052): a
    block function with if/return applied to a column compiles to one
    CASE expression (no UDF)."""
    leng.q('''
func fz(x) {
    if (x) {
        return "YES"
    } else {
        return "NO"
    }
}
func apply_to_list(lst) = list(lst{fz(item)})
''')
    assert leng.fz(1) == "YES"
    assert leng.fz(0) == "NO"
    assert leng.fz("a") == "YES"
    assert leng.fz("") == "NO"
    assert leng.apply_to_list([0, 1]) == ["NO", "YES"]
    assert leng.apply_to_list(["", "a"]) == ["NO", "YES"]


def test_agg_funcs_golden(leng):
    """Ported reference test_agg_funcs (test_basic.py:564-576)."""
    r = leng.q('[0, 2, 0, 0, 3, 4, 0]'
               ' { => count_true(item), count_false(item) }').one()
    assert (r.count_true, r.count_false) == (3, 4)
    leng.q('func sqsum(x) = sum(x*x)')
    assert leng.q('one [2, 4]{=> sqsum(item)}')["sqsum"] == 20
    assert leng.q('sum([2, 4])') == 6
    assert leng.sum([2, 4]) == 6


# ---- remaining reference golden sections (VERDICT r2 item 9) --------

def test_structs_golden(leng):
    """Ported reference test_structs (test_basic.py:1072-1091) with the
    box_circle.pql fixture content (tests/box_circle.pql): struct
    declarations, struct-typed columns, list→struct `new` coercion,
    nested-field predicates, struct projection juggling, and the
    temptable/{...!id} equivalence of the two spellings."""
    leng.q('''
struct Point {
    x: float
    y: float
}

table Box {
    start: Point
    end: Point
}

table Circle {
    center: Point
    radius: float
}

box1 = new Box([1, 1], [10, 10])
box2 = new Box([1, 1], [2, 2])
circle1 = new Circle([3, 3], 2)
circl2 = new Circle([20, 20], 2)

const table tmp1 = Box[start.x < 10.0]
const table tmp2 = Box[end.x < 10.0] {start, end}

func circles_contained1() = joinall(c: Circle, b: Box) [
        c.center.x - c.radius >= b.start.x,
        c.center.y - c.radius >= b.start.y,
        c.center.x + c.radius <= b.end.x,
        c.center.y + c.radius <= b.end.y
    ] {x: c, s: b.start, b.end} {x.center, r: x.radius, start: s, end}

func circles_contained2() = joinall(c: Circle, b: Box) { c.center, r: c.radius, b.start, b.end} [
        center.x - r >= start.x,
        center.y - r >= start.y,
        center.x + r <= end.x,
        center.y + r <= end.y
    ]
''')
    res1 = leng.circles_contained1().collect()
    res2 = leng.circles_contained2().collect()
    res3 = leng.q("temptable(circles_contained2()) {...!id}").collect()
    as_set = lambda rows: {tuple(map(str, r)) for r in rows}
    assert len(res1) == 1
    assert as_set(res1) == as_set(res2) == as_set(res3)
    r = res1[0]
    assert (r.center.x, r.center.y, r.r) == (3.0, 3.0, 2.0)
    assert (r.start.x, r.end.x) == (1.0, 10.0)
    # the const CTAS snapshots evaluated correctly too
    assert leng.q('count(tmp1)') == 2 and leng.q('count(tmp2)') == 1


def test_struct_inline_golden(leng):
    """Ported reference test_struct_inline (test_basic.py:1084-1091):
    `...a` spreads a join struct inline; name collisions auto-suffix."""
    res = leng.q('list(join(a: [1..10].item, b: [8..20].item) {...a})')
    assert sorted(res) == [8, 9]
    rows = leng.q('joinall(a: [1], b: [2]) {...a, ...b}').collect()
    assert [r.asDict() for r in rows] == [{"item": 1, "item1": 2}]


def test_dates_golden(leng):
    """Ported reference test_dates (test_basic.py:1527-1540): timestamp
    column default now(), row-attr reuse, string→timestamp coercion."""
    leng.q('''
table A {
    dt: timestamp = now()
}

x = new A()
y = new A(x.dt)
z = new A("2021-04-02 22:28:41")
''')
    x, y, z = leng.x, leng.y, leng.z
    assert x["dt"] == y["dt"] != z["dt"]
    assert z["dt"].year == 2021 and z["dt"].second == 41


def test_methods_golden(leng):
    """Ported reference test_methods (test_basic.py:700-744): methods
    declared in table DDL, usable in projections/filters, composing
    (is_area_larger calls area), and `this`-joins for FK children."""
    from preql_spark.lang import LangSignal
    leng.q('''
table Square {
    size: float

    func area() = size * size
    func is_area_larger(num) = area() > num
}

s = new Square(4)
size4 = Square[size == 4]

table a {
    size: int
}
''')
    with pytest.raises((LangSignal, NameError)):
        leng.q('a{area()}')
    rows = leng.q('size4{ area() }').collect()
    assert [r.asDict() for r in rows] == [{"area": 16.0}]
    assert leng.q('count(Square[area() > 18.0])') == 0
    assert leng.q('count(Square[area() < 18.0])') == 1
    assert leng.q('count(Square[is_area_larger(18.0)])') == 0
    assert leng.q('count(Square[is_area_larger(14.0)])') == 1

    leng.q('''
table Node {
    parent: Node?

    func children() = join(s: this.id, n: Node.parent) {n}
}

a = new Node(null)
b = new Node(a)
c = new Node(a)
''')
    assert leng.q('count(Node[parent == null].children())') == 2


def test_self_reference_golden(leng):
    """Ported reference test_self_reference (test_basic.py): FK
    attribute traversal (`parent.name` joins through the relation) and
    backrefs (`-> children`: count + field collection)."""
    leng.q('''
table Person {
    name: string
    parent: Person? -> children
}
''')
    abraham = leng.q('new Person("Abraham", null)')
    isaac = leng.q('new Person("Isaac", ab)', ab=abraham)
    leng.q('new Person("Jacob", isaac)', isaac=isaac)
    leng.q('new Person("Esau", isaac)', isaac=isaac)

    rows = leng.q('Person[name=="Jacob"] {name: parent.name}').collect()
    assert [r.asDict() for r in rows] == [{"name": "Isaac"}]

    out = leng.q('Person {name => c: count(children)} [c > 0]')
    got = sorted((r.name, r.c) for r in out.collect())
    assert got == [("Abraham", 1), ("Isaac", 2)]

    out2 = leng.q('Person {name => cn: children.name}')
    got2 = {r.name: sorted(r.cn) for r in out2.collect()}
    assert got2 == {"Abraham": ["Isaac"], "Esau": [],
                    "Isaac": ["Esau", "Jacob"], "Jacob": []}

    # traversal inside a selection condition keeps the schema clean
    out3 = leng.q('Person[parent.name == "Isaac"] {name}')
    assert sorted(r.name for r in out3.collect()) == ["Esau", "Jacob"]
    assert out3.columns == ["name"]


def test_language_md_operator_keyword_matrix(leng):
    """docs/language.md 'Keywords' and 'Operators' tables, row by
    row, value-asserted.  One deliberate note: the docs list `^` as
    element-wise xor on lists/tables, but the reference's own
    grammar (preql.lark:120) only defines `^` as the order{} DESC
    prefix — we match the grammar (and the docs' `<>` spelling IS in
    the grammar, preql.lark:90, so it works here)."""
    from preql_spark.lang import LangSignal
    import pytest as _pt
    q = leng.q
    # arithmetic
    assert q('1 + 2') == 3 and q('5 - 2') == 3
    assert q('3 * 4') == 12 and q('7 / 2') == 3.5
    assert q('7 /~ 2') == 3 and q('7 % 2') == 1
    assert q('"a" + "b"') == "ab"
    assert q('count([1] + [2, 3])') == 3            # list concat
    # set ops on tables: | & - (+ covered above)
    assert sorted(q('list([1, 2] | [2, 3])')) == [1, 2, 3]
    assert q('list([1, 2] & [2, 3])') == [2]
    assert q('list([1, 2] - [2])') == [1]
    # comparison
    assert q('1 in [1, 2]') is True and q('3 !in [1, 2]') is True
    assert q('"hello" ~ "he%"') is True
    assert q('"hello" like "he%"') is True
    assert q('1 == 1') is True and q('1 != 2') is True
    assert q('1 <> 2') is True and q('1 <> 1') is False
    assert q('count([1, 2, 3][item <> 2])') == 2
    assert (q('1 < 2'), q('1 <= 1'), q('2 > 1'), q('2 >= 2')) \
        == (True, True, True, True)
    # and/or return OPERANDS (the reference's value semantics — its
    # doc calls this laziness; truth-tables are property-tested)
    assert q('7 and 2') == 2 and q('0 and 2') == 0
    assert q('0 or 5') == 5 and q('7 or 2') == 7
    assert q('not false') is True
    # table operations
    assert q('count([1, 2, 3][item > 1])') == 2     # [] filter
    assert [r.v for r in q('[1, 2] {v: item * 2}').collect()] \
        == [2, 4]                                   # {} project
    assert q('list([10, 20, 30, 40][1..3])') == [20, 30]  # slice
    assert q('list([3, 1, 2] order {item})') == [1, 2, 3]
    assert q('list([3, 1, 2] order {^item})') == [3, 2, 1]
    # strings slice
    assert q('"hello"[1..3]') == "el"
    # definitions / control flow / other keywords
    assert q('func sq(x) = x * x; sq(7)') == 49
    assert q('acc = 0 for (i in [1, 2, 3]) { acc = acc + i } acc') == 6
    assert q('n = 0 while (n < 4) { n = n + 1 } n') == 4
    got = q('try { throw new ValueError("boom") } '
            'catch (ValueError) { caught = 1 } caught')
    assert got == 1
    with _pt.raises(LangSignal, match="AssertError"):
        q('assert 1 == 2')
    q('assert 1 == 1')                              # no throw
    q('print "side-effect only"')                   # must not error
    # new / new[] / one / += (collections)
    leng.q('table K { v: int }')
    q('new K(7)')
    q('new[] K([8, 9] {v: item})')                  # bulk insert
    assert q('count(K)') == 3
    assert q('one K[v == 7] {v}').v == 7
    with _pt.raises((LangSignal, ValueError), match="one"):
        q('one K {v}')                              # >1 row throws
    assert q('ys = [1] ys += [2] count(ys)') == 2
    # const table = expr: CTAS WITHOUT the auto id (evaluate.py:1086)
    q('table C1 = [1, 2] {v: item}')
    q('const table C2 = [1, 2] {v: item}')
    assert q('C1').columns == ["id", "v"]
    assert q('C2').columns == ["v"]


def test_comparison_sql_doc_conformance(leng):
    """docs/comparison_sql.md — every 'advantage over SQL' the
    reference advertises, value-asserted: null compared as a VALUE,
    on-the-fly list membership, ranges, {key => bare column} array
    aggregation, and the repetitive-code-into-a-function example
    (per-weekday counts via a user function over the git commits
    table, spelled with the engine's day_of_week instead of the
    doc's sqlite strftime)."""
    # null as a value
    leng.q('table Person { name: string?, country: string }')
    leng.q('new Person(null, "il")')
    leng.q('new Person("ada", "uk")')
    leng.q('new Person("alan", "uk")')
    assert leng.q('count(Person[name == null])') == 1
    # lists on the fly (membership in a projection)
    leng.q('lucky_numbers = [12, 13, 42]')
    got = [tuple(r) for r in
           leng.q('lucky_numbers {item, hit: item in [13, 27, 42]}')
           .collect()]
    assert got == [(12, False), (13, True), (42, True)]
    # range
    assert leng.q('count([1..10])') == 9     # exclusive, per reference
    # {key => bare column} == array_agg
    out = {r.country: sorted(x for x in r.name if x is not None)
           for r in leng.q('Person {country => name}').collect()}
    assert out == {"il": [], "uk": ["ada", "alan"]}
    # functions factoring repetitive aggregation, over the git source
    leng.q('connect("git:///root/repo")')
    leng.q('func count_day(date, day) = '
           'count_true(day_of_week(date) == day)')
    week = leng.q('''
commits {
    =>
    sunday: count_day(author_when, 1)
    monday: count_day(author_when, 2)
    tuesday: count_day(author_when, 3)
    wednesday: count_day(author_when, 4)
    thursday: count_day(author_when, 5)
    friday: count_day(author_when, 6)
    saturday: count_day(author_when, 7)
}
''').collect()[0]
    n = leng.q('count(commits)')
    assert sum(week[d] for d in week.asDict()) == n and n > 0


def test_bare_function_as_value_errors_cleanly(leng):
    """A bare builtin function name used as a value must raise the
    lang's own TypeError telling the user to call it — not leak the
    _FuncRef into py4j ('no attribute _get_object_id')."""
    from preql_spark.lang import LangSignal
    import pytest as _pt
    with _pt.raises(LangSignal, match="is a function"):
        leng.q('not count')
    with _pt.raises(LangSignal, match="is a function"):
        leng.q('1 + count')


def test_parser_fuzz_no_internal_leakage(leng):
    """Seeded random token soups never escape as py4j/JVM errors —
    every failure is a Python-side exception with a message (the
    REPL surfaces and survives them all).  Guards the parser's error
    paths against leaking raw lang objects into Column operators."""
    import random
    random.seed(42)
    leng.q('fz = [1, 2, 3]')
    toks = ["fz", "{", "}", "[", "]", "(", ")", "=>", "+", "-",
            "count", "item", "order", "^", "null", "1", '"s"', ",",
            ":", "==", "and", "or", "not", "if", "else", "func",
            "..", "new", "."]
    for _ in range(150):
        q = " ".join(random.choice(toks)
                     for _ in range(random.randint(1, 8)))
        try:
            leng.q(q)
        except Exception as e:
            assert "py4j" not in type(e).__module__, (q, e)
            assert "_get_object_id" not in str(e), (q, e)


def test_m2m_junction_traversal_golden(leng):
    """The reference's test_m2m (test_basic.py) — which IT disables
    with `assert False, "Not ready yet"` — passes here: a junction
    table with two named backrefs (`a: A -> ab`, `b: B -> ab`),
    dotted traversal THROUGH the junction from either side
    (`ab.b.item`), left-join semantics (unmatched rows keep NULL),
    backref-FK chains inside selections, and re-projected dotted
    reads.  Expected values are the reference test's own literals."""
    leng.q('table A { item: int }')
    leng.q('table B { item: int }')
    leng.q('''
table A_B {
    a: A -> ab
    b: B -> ab
}
''')
    for x in range(10):
        leng.q(f'new A(item: {x})')
        leng.q(f'new B(item: {x})')
    # ids are 1-based; link item pairs (i, 2i) for i in 0..4
    for i in range(5):
        leng.q(f'new A_B(a: {i + 1}, b: {2 * i + 1})')

    got = sorted((r.a, r.b) for r in
                 leng.q('A_B {a: a.item, b: b.item}').collect())
    assert got == [(0, 0), (1, 2), (2, 4), (3, 6), (4, 8)]

    got = sorted(((r.a, r.b) for r in
                  leng.q('A {a: item, b: ab.b.item}').collect()),
                 key=lambda t: t[0])
    assert got == [(0, 0), (1, 2), (2, 4), (3, 6), (4, 8),
                   (5, None), (6, None), (7, None), (8, None),
                   (9, None)]

    got = sorted(((r.a, r.b) for r in
                  leng.q('B {a: ab.a.item, b: item}').collect()),
                 key=lambda t: t[1])
    assert got == [(0, 0), (None, 1), (1, 2), (None, 3), (2, 4),
                   (None, 5), (3, 6), (None, 7), (4, 8), (None, 9)]

    assert [r.item for r in
            leng.q('B [ab.a.item == 2] {item}').collect()] == [4]
    assert [r.v for r in
            leng.q('A_B [a.item == 2] {v: b.item}').collect()] == [4]

    res = [(0, 0), (1, 2), (2, 4), (3, 6), (4, 8)]
    out5 = leng.q('A_B {a.item, b.item}')
    assert sorted(tuple(r) for r in out5.collect()) == res
    out6 = leng.q('A_B {a, b} {a.item, b.item}')
    assert sorted(tuple(r) for r in out6.collect()) == res


def test_backref_name_shadowed_by_physical_column(leng):
    """A physical column that shares a backref's name stays reachable
    via dotted access: on a backref chain, a name that is BOTH a
    backref of the source and one of its physical columns resolves
    as the column (field-before-relation precedence, like the table
    context) — the nested-backref interpretation only applies when
    no column claims the name."""
    leng.q('table C { ab: int\n parent: C? -> children }')
    leng.q('table X { name: string }')
    # the junction registers a backref also named `ab` on C
    leng.q('table C_X { c: C -> ab\n x: X -> cx }')
    leng.q('new C(7, null)')               # id 1
    leng.q('new C(42, 1)')                 # id 2, child of id 1
    leng.q('new X("x1")')
    leng.q('new C_X(2, 1)')                # child <-> x1
    # children.ab must read the CHILD ROW's physical ab column (42),
    # not traverse the junction backref of the same name
    got = sorted((r.own, r.child) for r in
                 leng.q('C {own: ab, child: children.ab}').collect())
    assert got == [(7, 42), (42, None)]
    # a backref name with NO column conflict still chains through
    # the junction (the m2m pattern keeps working on this schema)
    out = leng.q('C {v: children.ab}')     # sanity: same as above
    assert sorted(r.v for r in out.collect()
                  if r.v is not None) == [42]


def test_m2m_self_reference_golden(leng):
    """The reference's test_m2m_with_self_reference (test_basic.py) —
    also disabled upstream ('Not ready yet') — passes here: a
    backref OF a backref (`children.ab.b.name` = self-backref into
    the child rows, backref into the junction, FK into B), left
    joins end-to-end.  Expected rows are the reference test's own
    literals (its uncommented `res`)."""
    leng.q('table A { name: string\n parent: A? -> children }')
    leng.q('table B { name: string\n parent: B? -> children }')
    leng.q('table A_B { a: A -> ab\n b: B -> ab }')
    leng.q('new A("a1", null)')            # id 1
    leng.q('new A("a2", 1)')               # id 2, child of a1
    leng.q('new A("a3", 1)')               # id 3, child of a1
    leng.q('new B("b1", null)')            # id 1
    leng.q('new B("b2", null)')            # id 2
    leng.q('new A_B(1, 1)')                # a1 <-> b1
    leng.q('new A_B(2, 2)')                # a2 <-> b2
    out = leng.q('A {own: ab.b.name, child: children.ab.b.name}')
    assert out.columns == ["own", "child"]
    got = sorted(((r.own, r.child) for r in out.collect()),
                 key=lambda t: (t[0] is None, t[0] or "",
                                t[1] is None, t[1] or ""))
    assert got == [("b1", "b2"), ("b1", None), ("b2", None),
                   (None, None)]


def test_foreign_key_golden(leng):
    """Ported reference test_foreign_key (test_basic.py): FK to a
    specific column (`x_axis: Point.x`) + auto-join through it."""
    leng.q('''
table Point {
    x: int
    y: int
}

table HRuler {
    x_axis: Point.x
}

new Point(1, 1)
new Point(3, 3)
new Point(3, 4)
new HRuler(3)
new HRuler(4)
''')
    got = leng.q('join(h: HRuler[x_axis==3], p: Point) {p.y}')
    assert sorted(r.y for r in got.collect()) == [3, 4]
    got2 = leng.q('join(h: HRuler[x_axis==4], p: Point) {p.y}')
    assert got2.collect() == []


def test_table_def_dicts_golden(leng):
    """Ported reference test_table_def_dicts (test_basic.py)."""
    out = leng.q('''[
        {a: 1, b: 2}
        {a: 10, b: 20}
    ]{c: a+b}''')
    assert sorted(r.c for r in out.collect()) == [3, 30]
    with pytest.raises(Exception):
        leng.q('[{a: 1} {b: 2}]')


def test_join_on_golden(leng):
    """Ported reference test_join_on (test_basic.py): leftjoin with a
    $on theta condition, null struct rows for unmatched lefts."""
    leng.q('A = [1, 3]\n'
           'B = [1, 2]\n'
           'res = leftjoin(a: A, b: B, $on: a.item > b.item)'
           ' order {a.item, b.item}')
    got = [r.asDict(recursive=True) for r in leng.q('res').collect()]
    assert got == [
        {"a": {"item": 1}, "b": {"item": None}},
        {"a": {"item": 3}, "b": {"item": 1}},
        {"a": {"item": 3}, "b": {"item": 2}},
    ]


def test_copy_rows_golden(leng):
    """Ported reference test_copy_rows: `Y += X{v}` insert-select."""
    leng.q('table X1 { v: int }\nnew X1(1)\nnew X1(2)')
    leng.q('table Y1 { v: int }\nY1 += X1{v}')
    assert sorted(r.v for r in leng.q('Y1').collect()) == [1, 2]


def test_rowtype_golden(leng):
    """Ported reference test_rowtype (row values, FK rows, row attr)."""
    leng.q('table RA { x: int }\nra = new RA(4)\n'
           'table RB { a: RA }\nrb = new RB(ra)')
    assert leng.q('ra.x') == 4
    assert dict(leng.ra.asDict()) == {"id": 1, "x": 4}
    # the FK column stored ra's id
    assert leng.rb["a"] == leng.ra["id"]
    assert leng.q('one RB[a == 1]')["a"] == 1


def test_threading_golden(leng):
    """Ported reference test_threading (test_basic.py): 10 driver
    threads each inserting via a lang-function delegate; no lost
    inserts, no duplicate ids."""
    from multiprocessing.pool import ThreadPool
    leng.q('table ta = [0]\n'
           'func add_n(n) = new ta(n)')
    with ThreadPool(processes=10) as pool:
        pool.map(leng.add_n, range(100))
    rows = leng.q('ta').collect()
    assert len(rows) == 101
    assert len({r.id for r in rows}) == 101          # unique pks
    assert sorted(r.item for r in rows) == list(range(0, 101)) \
        or sorted(r.item for r in rows) == [0] + list(range(100))
    # reference also checks a{item} - [..100] == [] (set equality)
    assert leng.q('count(ta{item} - [..100])') == 0


def test_transaction2_golden(leng):
    """Ported reference test_transaction2 (test_basic.py): rollback on
    a fresh session, a transaction whose exception is caught INSIDE
    commits, run_statement DROP TABLE, commit()."""
    leng.q("rollback()")
    leng.q('''
table ta2 {
    x: int
}

transaction {
    try {
        new ta2(5)
        throw new Exception("A")
    } catch(Exception) {
    }
}
''')
    assert leng.q("list(ta2{x})") == [5]
    leng.run_statement("DROP TABLE ta2")
    leng.commit()
    assert "ta2" not in leng.tables()


def test_commit_rollback_golden(leng):
    """commit()/rollback() builtins (__builtins__.pql:176-189):
    rollback reverts to the last commit point."""
    leng.q("table cr { x: int }\nnew cr(1)")
    leng.q("commit()")
    leng.q("new cr(2)\nnew cr(3)")
    assert leng.q("count(cr)") == 3
    leng.q("rollback()")
    assert leng.q("count(cr)") == 1
    assert leng.q("one cr").x == 1


def test_rollback_after_transaction_golden(leng):
    """commit(), two updates, a transaction block, then rollback():
    the committed rows come back.  The transaction's exit applies the
    same retention rule as every write, which keeps the commit
    point."""
    leng.q("table crt { x: int }\nnew crt(1)\nnew crt(2)")
    leng.q("commit()")
    leng.q("crt[x == 1] update {x: 10}")
    leng.q("crt[x == 2] update {x: 20}")
    leng.q("transaction { crt[x == 10] update {x: 100} }")
    assert sorted(leng.q("list(crt{x})")) == [20, 100]
    leng.q("rollback()")
    assert sorted(leng.q("list(crt{x})")) == [1, 2]


def test_stdlib_function_forms(leng):
    """dict(), remove_table*, date-part function spellings
    (__builtins__.pql:164,347-353,563-573)."""
    d = leng.q("dict(a: 1, b: 2)")
    assert d == {"a": 1, "b": 2}
    out = leng.q('[{t: "2021-04-02 22:28:41"}]'
                 '{y: year(timestamp(t)), m: month(timestamp(t)),'
                 ' h: hour(timestamp(t)), w: day_of_week(timestamp(t))}')
    r = out.one()
    assert (r.y, r.m, r.h) == (2021, 4, 22)
    leng.q("table rt { x: int }")
    leng.q("remove_table(rt)")
    assert "rt" not in leng.tables()
    leng.q('remove_table_if_exists("rt")')   # absent: silently ok
    import pytest as _pt
    from preql_spark.lang import LangSignal
    with _pt.raises(LangSignal):
        leng.q('remove_table("rt")')


def test_keywords_golden(leng):
    """Ported reference test_keywords (test_basic.py): parameter
    defaults + keyword args; duplicate binding raises."""
    leng.q('func fk(a, b=4) = a + b')
    assert leng.fk(b=2, a=3) == 5
    assert leng.fk(3, b=10) == 13
    with pytest.raises(Exception):
        leng.q('fk(3, a: 10)')          # 'a' bound twice
    with pytest.raises(Exception):
        leng.q('fk()')                  # 'a' has no default


def test_list_arith_golden(leng):
    """Ported reference test_list_ops / test_table_arith / test_arith
    / test_empty_count / test_json (test_basic.py) — set-valued
    results compared order-insensitively (Spark promises no row
    order)."""
    q = leng.q
    assert sorted(q('list([1,2,3] + [5,6])')) == [1, 2, 3, 5, 6]
    assert sorted(q('list([1,2,3] | [3,4])')) == [1, 2, 3, 4]
    assert sorted(q('list([1,2,3] - [3,4])')) == [1, 2]
    assert q('list([1] + [])') == [1]
    assert q('list([] + [1])') == [1]
    assert q('list([])') == []
    rows = q('[1,2,3]{v: item*2}[v < 5]').collect()
    assert sorted(r.v for r in rows) == [2, 4]
    rows = q('[1,2,3]{v: item*2}[v in [2,6]]').collect()
    assert sorted(r.v for r in rows) == [2, 6]
    rows = q('[1,2,3]{v: item*2}[v !in [2,6]]').collect()
    assert [r.v for r in rows] == [4]
    # arith battery
    assert q('1 + 2 / 4') == 1.5
    assert q('1 + 2 /~ 4 + 1') == 2
    assert q('"a" * 3') == "aaa"
    assert q('"ab" * 3') == "ababab"
    assert q('"a" + "b"*2 + "c"') == "abbc"
    assert q('"abc" ~ "a%c"') is True
    assert q('"ab" ~ "a%c"') is False
    assert q('1 - 2**3') == -7
    assert q('10**-2') == 0.01
    assert q('list([0.0, 10.0, 1.2]{item ** 2})') == [0.0, 100.0, 1.44]
    # empty_count
    assert q('one one [1,2,3] { => count()}') == 3
    assert sorted(r["count"] for r in
                  q('[1,2,3] { item /~ 2 => count()} {count}').collect()) \
        == [1, 2]
    # json: count of a grouped array column is its length
    assert q('list([1,7,3,4]{item%2 => item}{count(item)} order {count})') \
        == [1, 3]
    # nested projections (test_nested_projections)
    r1 = q('joinall(a:[1,2], b:[2, 3]) {a.item => count(b.item)}')
    r2 = q('joinall(a:[1,2], b:[2, 3]) {a.item => count(b)}')
    assert sorted(map(tuple, r1.collect())) == sorted(map(tuple, r2.collect()))
    r = q('one joinall(a:[1,2], b:[2, 3])'
          ' {a: a.item => b: count(b.item)} {b => a: count(a)}')
    assert (r.b, r.a) == (2, 2)


def test_literal_forms_golden(leng):
    """language.md literal forms: quote styles incl. triple quotes,
    on-the-fly struct literals."""
    assert leng.q("'a' + 'b'") == "ab"
    assert leng.q("'''tri<'>ple'''") == "tri<'>ple"
    assert leng.q('"""doc "quoted" text"""') == 'doc "quoted" text'
    rows = leng.q('[1, 2]{n: item, p: {x: item, y: item * 10}}').collect()
    assert sorted((r.n, r.p.x, r.p.y) for r in rows) == [(1, 1, 10),
                                                         (2, 2, 20)]
    # struct literal fields project back out
    out = leng.q('[3]{p: {x: item}}{px: p.x}')
    assert [r.px for r in out.collect()] == [3]


def test_triple_join_golden(leng):
    """Ported reference test_triple_join (test_basic.py): 3-way
    join-by-column chain — each operand names its join key, steps
    equate consecutive operands."""
    r = leng.q('join(a: [1..10].item, b: [2..20].item,'
               ' c: [3,5,15].item) {c.item}')
    assert sorted(x.item for x in r.collect()) == [3, 5]


def test_nested2_golden(leng):
    """Ported reference test_nested2: nested on-the-fly struct
    literals with bare-entry shorthand, struct projection
    round-trips."""
    r = leng.q('[1] {a:{b:{item}}}').collect()
    assert [x.asDict(True) for x in r] == [{'a': {'b': {'item': 1}}}]
    a = leng.q('[1] {a:{item}} {a}').collect()
    assert [x.asDict(True) for x in a] == [{'a': {'item': 1}}]
    b = leng.q('([1] {a:{item}}) {a.item}').collect()
    assert [x.item for x in b] == [1]


def test_text_golden(leng):
    """Ported reference test_text: text columns hold embedded
    newlines; string literals process \\n escapes."""
    leng.q('table TxtA { x: text }')
    leng.q('a = new TxtA("hello")')
    leng.q('b = new TxtA("hello\\nworld")')
    assert leng.q('one TxtA[id==1]{x}').x == "hello"
    assert leng.q('one TxtA[id==2]{x}').x == "hello\nworld"


def test_repeat_golden(leng):
    """Ported reference test_repeat: vectorized repeat(str, n)."""
    r = leng.q('[1,2,3]{repeat("a", item)}').collect()
    assert [x.repeat for x in r] == ["a", "aa", "aaa"]


def test_round_golden(leng):
    """Ported reference test_round: round(x), round(x, n) including
    negative n (half-away-from-zero like the reference's Python
    round-half-even differs on ties — the reference asserts these
    exact values)."""
    q = leng.q
    assert float(q('round(1928.9182)')) == 1929
    assert float(q('round(1928.9182, 0)')) == 1929
    assert float(q('round(1928.9182, 1)')) == 1928.9
    assert float(q('round(1928.9182, 2)')) == 1928.92
    assert float(q('round(1928.9182, -1)')) == 1930
    assert float(q('round(1928.9182, -3)')) == 2000
    assert float(q('round(-59.9)')) == -60
    assert float(q('round(-4.535, 2)')) == -4.54


def test_lists2_golden(leng):
    """Ported reference test_lists2: membership against a computed
    list inside a function body (boolean column; the reference's
    sqlite renders 0/1)."""
    leng.q('func in_list(x) = [1,2,3] {item in x{item}}')
    r = leng.q('in_list([2, 3])').collect()
    assert [bool(x[0]) for x in r] == [False, True, True]


def test_partial_table2_golden(leng):
    """Ported reference test_partial_table2: CTAS from list, shadow
    with null, reconnect via `table A {...}`, insert."""
    leng.q('table PTA = [1, 2, 3]')
    leng.q('PTA = null')
    assert leng.q('PTA == null') is True
    leng.q('table PTA {...}')
    leng.q('new PTA(10)')
    assert sorted(r.item for r in leng.q('PTA{item}').collect()) \
        == [1, 2, 3, 10]


def test_table_from_expr_golden(leng):
    """Ported reference test_table_from_expr: CTAS from a range is
    insertable."""
    leng.q('table TFE = [1..3]')
    leng.q('new TFE(5)')
    assert sorted(r.item for r in leng.q('TFE{item}').collect()) \
        == [1, 2, 5]


def test_bare_table_columns_golden(leng):
    """Ported reference test_bare_table + columns() builtin
    (pql_functions.py:653-665): bare tables get no auto-id and
    columns() returns the name→type mapping."""
    leng.q('bare table BareT {x: int}')
    assert leng.q('count(columns(BareT))') == 1
    leng.q('table IdT {x: int}')
    cols = leng.q('columns(IdT)')
    assert list(cols) == ['id', 'x']


def test_vectorized_logic_golden(leng):
    """Ported reference test_vectorized_logic: multi-branch scalar
    function vectorizes over a negative-bound range; bare-column agg
    collects to an array."""
    leng.q('''func sign(x) {
    if (x == 0) {
        return 0
    } else if (x > 0) {
        return 1
    } else {
        return -1
    }
}''')
    assert leng.q('list([-2..3]{sign(item)})') == [-1, -1, 0, 1, 1]
    r = leng.q('[-2..3]{=>sign(item)}').collect()
    assert [sorted(x[0]) for x in r] == [[-1, -1, 0, 1, 1]]


def test_join_to_temptable_golden(leng):
    """Ported reference test_join_to_temptable: leftjoin by column
    into temptable, struct-field selections incl. null probe."""
    leng.q('jl1 = [1, 2, 3]')
    leng.q('jl2 = [1, 2, 4]')
    leng.q('jt = temptable(leftjoin(a: jl1.item, b: jl2.item))')
    assert [r.item for r in
            leng.q('jt[a.item == 1] {a.item}').collect()] == [1]
    assert [r.item for r in
            leng.q('jt[b.item==null] {a.item}').collect()] == [3]


def test_empty_count_golden(leng):
    """Ported reference test_empty_count: argless count() in global
    and keyed groupings."""
    assert leng.q('one one [1,2,3] { => count()}') == 3
    r = leng.q('[1,2,3] { item /~ 2 => count()} {count}').collect()
    assert sorted(x[0] for x in r) == [1, 2]


def test_basic1_country_person_golden(leng):
    """Ported reference _test_basic over the country_person.pql
    fixture (test_basic.py:67-100): scalar arith/casts, group-by on a
    reassigned item key, list() of selections, and row-value
    comparisons (`Person[id != me]` compares by primary key —
    RowInstance semantics)."""
    assert float(leng.q("3.14")) == 3.14
    assert leng.q("1") == 1
    assert leng.q("-(1)") == -1
    assert leng.q("1 / 2") == 0.5
    assert leng.q("10 /~ 3") == 3
    assert leng.q("type(10/3) == float")
    assert [r.asDict() for r in
            leng.q("[1,2,3]{v: item/~2 => sum(item)}").collect()] == \
        [{"v": 0, "sum": 1}, {"v": 1, "sum": 5}]
    assert [r.asDict() for r in
            leng.q("[1,2,3]{item: item/~2 => sum(item)}").collect()] == \
        [{"item": 0, "sum": 1}, {"item": 1, "sum": 5}]
    leng.q('''
table Country { name: string, language: string }
table Person { name: string, country: int }

isr = new Country("Israel", "he")
eng = new Country("England", language: "en")
us = new Country(language: "en", name: "United States")

me = new Person("Erez Shinan", isr.id)
new Person("Ephraim Kishon", isr.id)
new Person("Eric Blaire", eng.id)
new Person("H.G. Wells", eng.id)
new Person("John Steinbeck", us.id)

func query1() = list(Country[language=="en"]{name})
''')
    assert set(leng.q("query1()")) == {"England", "United States"}
    assert set(leng.q('list(Person[country==isr]{name})')) == \
        {"Erez Shinan", "Ephraim Kishon"}
    assert set(leng.q('list(Person[id!=me]{name})')) == \
        {"Ephraim Kishon", "Eric Blaire", "H.G. Wells", "John Steinbeck"}
    # name-affects-type (reference _test_cache)
    assert leng.q('Person {name2: name}').df.columns == ["name2"]
    assert leng.q('Person {name}').df.columns == ["name"]


def test_builtin_escape_hatches_golden(leng):
    """Reference builtin surface: cast() (pql_functions.py:668-682),
    table_concat/union/intersect/substract function spellings
    (:385-417, reference's own spelling), env_vars() (:820-828),
    get_db_type() (:351-359), force_eval() (:125-130), inspect_sql()
    (:76-83), PY() with $var interpolation and setup code (:43-73)."""
    assert leng.q('cast(3.2, int)') == 3
    assert leng.q('cast(42, string)') == "42"
    assert leng.q('count(table_concat([1], [2]))') == 2
    assert leng.q('count(table_union([1,2],[2,3]))') == 3
    assert leng.q('list(table_intersect([1,2],[2,3]))') == [2]
    assert leng.q('list(table_substract([1,2],[2]))') == [1]
    # the name the reference actually REGISTERS is the correctly
    # spelled one (pql_functions.py:1111 'table_subtract':
    # pql_table_substract) — a reference user calls table_subtract;
    # both spellings must resolve
    assert leng.q('list(table_subtract([1,2],[2]))') == [1]
    assert leng.q('list(table_subtract(["a","b","c"],["b"]))') \
        == ["a", "c"]
    assert leng.q('count(env_vars()) > 0')
    assert leng.q('env_vars()').df.columns == ["name", "value"]
    assert leng.q('get_db_type()') == "spark"
    assert leng.q('force_eval([1,2]{v: item+1})') == [{"v": 2}, {"v": 3}]
    assert "Physical Plan" in leng.q('inspect_sql([1,2]{item+1})')
    assert leng.q('PY("1+1")') == 2
    assert leng.q('PY("sys.maxsize > 0", "import sys")') is True
    leng.q('x = 5')
    assert leng.q('PY("$x * 2")') == 10
    # debug()/breakpoint() are no-ops outside a tty
    assert leng.q('debug()') is None
    assert leng.q('breakpoint()') is None
    # table_add_index (pql_functions.py:1043-1082): the reference
    # no-ops on columnar targets and so does Spark (write-time layout
    # is the analogue) — but the SPELLING must resolve, validate its
    # arguments like the reference, and return null
    from preql_spark.lang import LangSignal
    leng.q('table Ix {name: string}')
    leng.q('new Ix("a")')
    assert leng.q('table_add_index(Ix, "name")') is None
    assert leng.q('table_add_index(Ix, "name", true)') is None
    with pytest.raises(LangSignal, match="no such column"):
        leng.q('table_add_index(Ix, "nope")')
    with pytest.raises(LangSignal, match="must be a table"):
        leng.q('table_add_index(1, "x")')
    # the reference spelling is the table METHOD (proto_attrs,
    # pql_functions.py:1081): x.add_index("col")
    assert leng.q('Ix.add_index("name")') is None
    assert leng.q('Ix.add_index("name", true)') is None
    with pytest.raises(LangSignal, match="no such column"):
        leng.q('Ix.add_index("nope")')
    # arity miss is a clean TypeError signal, not a raw IndexError
    with pytest.raises(LangSignal, match="missing required"):
        leng.q('table_add_index(Ix)')
    with pytest.raises(LangSignal, match="missing required"):
        leng.q('Ix.add_index()')
    # the reference binds `unique` BY NAME (pql_functions.py:1043
    # signature) — the keyword spelling must reach the engine (r13
    # ADVICE: the method dispatch silently dropped kwargs)
    calls = []
    # class-level patch: Engine.__setattr__ diverts instance sets
    # into the lang namespace (the `p.x = value` embedding API)
    orig = type(leng).add_index
    type(leng).add_index = \
        lambda self, name, cols, unique=False: calls.append(
            (name, tuple(cols), unique))
    try:
        assert leng.q('Ix.add_index("name", unique: true)') is None
        assert leng.q(
            'table_add_index(Ix, "name", unique: true)') is None
        assert calls == [("Ix", ("name",), True),
                         ("Ix", ("name",), True)]
    finally:
        type(leng).add_index = orig
    with pytest.raises(LangSignal, match="unexpected keyword"):
        leng.q('Ix.add_index("name", uniq: true)')
    with pytest.raises(LangSignal, match="multiple values"):
        leng.q('Ix.add_index("name", true, unique: true)')


def test_stdlib_function_spellings_golden(leng):
    """Stdlib functions callable by their reference names
    (__builtins__.pql): zipjoin family (:167-257), map_range with int
    and per-row function bounds (:592-650 — function end is
    inclusive), list_median (:199-209), boolean list literals."""
    assert leng.q('count(zipjoin([1,2],[3,4]))') == 2
    assert leng.q('count(zipjoin_left([1,2],[3]))') == 2
    assert leng.q('count(zipjoin_longest([1],[3,4]))') == 2
    assert [r.asDict() for r in
            leng.q('map_range(["a", "b"], 0, 3)').collect()] == [
        {"item": "a", "index": 0}, {"item": "a", "index": 1},
        {"item": "a", "index": 2}, {"item": "b", "index": 0},
        {"item": "b", "index": 1}, {"item": "b", "index": 2}]
    assert leng.q('count(map_range(["a", "ab"], 1, length))') == 3
    assert leng.q('[1,2,9]{ => list_median(item)}').collect()[0][0] == 2.0
    assert leng.q('[true,false,false]{ => count_false(item)}') \
        .collect()[0][0] == 2
    assert leng.q('list([true, false])') == [True, False]


def test_session_builtins_golden(leng):
    """connect() loads a data dir (pql_functions.py:715-733),
    get_qualified_name is identity in a schema-less catalog (:224-228),
    set_setting writes display knobs (:210-216), exit() raises
    SystemExit (quits the REPL)."""
    import pytest as _pytest
    leng.q('connect("/root/testdata/sf0.001")')
    assert leng.q('count(nation)') == 25
    assert leng.q('get_qualified_name("nation")') == "nation"
    leng.q('set_setting("test_knob", 3)')
    from preql_spark import display
    assert display.TEST_KNOB == 3
    del display.TEST_KNOB
    with _pytest.raises(SystemExit):
        leng.q('exit()')


# ---- round-3 golden ports: the remaining reference test_basic.py
# sections not yet mirrored by name --------------------------------

def test_logical_golden(leng):
    """Ported reference test_logical (test_basic.py:210-241): scalar
    and/or are value-semantics (return an operand, not a bool), table
    operands resolve by non-emptiness."""
    assert leng.q('1==0 or isa(1, int)')
    assert not leng.q('1==0 or isa(1, float)')
    assert [r.r for r in leng.q('[0,1,2,3][item < 2]{r: item or 0}')
            .order("r").collect()] == [0, 1]
    assert sorted(r.r for r in leng.q('[0,1,2,3][item < 2]{r: item or 10}')
                  .collect()) == [1, 10]
    assert [r.r for r in
            leng.q('[0,1,2,3]{r: item > 1 and item < 3}[r]').collect()] \
        == [True]
    assert [r.asDict() for r in
            leng.q('[0,1,2,3]{r: item < 3, item}[not r]').collect()] \
        == [{"r": False, "item": 3}]
    with pytest.raises(Exception):
        leng.q('"hello" or 1')          # mixed types (reference Signal)
    assert leng.q('"hello" or "a"') == "hello"
    assert leng.q('"hello" and "a"') == "a"
    assert leng.q('"hello" and ""') == ""
    assert leng.q('"" and "hello"') == ""
    assert leng.q('"" or "hello"') == "hello"
    assert leng.q('"bla" and "hello"') == "hello"
    assert leng.q('1 or 2 or 3') == 1
    assert leng.q('1 and 2 and 3') == 3
    assert leng.q('1 and 2 or 3') == 2
    assert leng.q('1 or 2 and 3') == 1
    assert [r.item for r in leng.q('[1] or [2]').collect()] == [1]
    assert [r.item for r in leng.q('[1] and [2]').collect()] == [2]
    assert [r.item for r in leng.q('[1][item > 5] or [2]').collect()] == [2]


def test_vectorized_logic2_golden(leng):
    """Ported reference test_vectorized_logic2 (test_basic.py:288-315):
    value-semantics and/or vectorized over string rows."""
    assert [bool(x) for x in
            leng.q('list(["a", "b"]{length(item)>1 or true})')] == [True, True]
    assert leng.q('["hello"]{item[..1]}').collect()[0][0] == "h"
    with pytest.raises(Exception):
        leng.q('["hello"]{item or 1}').collect()
    pairs = [('["hello"]{item or "a"}', "hello"),
             ('["hello"]{item and "a"}', "a"),
             ('["hello"]{item and ""}', ""),
             ('[""]{item or "a"}', "a"),
             ('[""]{item and "a"}', ""),
             ('[""]{item or ""}', ""),
             ('[""]{item and ""}', ""),
             ('["hello"]{item or "a" and "b"}', "hello"),
             ('["hello"]{item and "a" or "b"}', "a")]
    for src, want in pairs:
        assert leng.q(src).collect()[0][0] == want, src


def test_basic2_golden(leng):
    """Ported reference test_basic2 (test_basic.py:243-269)."""
    assert [r.item for r in leng.q('''
        x = [1..4]
        x[item == max(x)]
    ''').collect()] == [3]
    with pytest.raises(Exception):
        leng.q('[min..]')
    assert leng.q('"hello"[1]') == "e"
    assert leng.q('list(["hello"]{item[1..2]})') == ["e"]
    assert leng.q('list(["hello"]{item[1]})') == ["e"]
    from preql_spark.lang import LangSignal
    with pytest.raises(LangSignal):
        leng.q('return 1')


def test_sql2_golden(leng):
    """Ported reference test_SQL2 (test_basic.py:507-513): SQL() with
    a declared scalar type localizes to one value; $name binds a
    local table."""
    leng.q('''
        a = [1..10]
        func f() = SQL(int, "SELECT COUNT(*) FROM $a")
    ''')
    assert leng.q('f()') == 9


def test_builtins_golden(leng):
    """Ported reference test_builtins (test_basic.py:1476-1494)."""
    assert leng.q('list([1.1, 2.3]{round(item)})') == [1.0, 2.0]
    assert leng.q('round(1.3)') == 1.0
    assert leng.q('list(["A", "Ab"]{length(item)})') == [1, 2]
    assert leng.q('list(["A", "Ab"]{lower(item)})') == ["a", "ab"]
    assert leng.q('list(["A", "Ab"]{upper(item)})') == ["A", "AB"]
    assert leng.q('length("Ab")') == 2
    assert leng.q('lower("Ab")') == "ab"
    assert leng.q('upper("Ab")') == "AB"
    assert leng.q('list(["Ab", "Aab"]{str_index("b", item)})') == [1, 2]
    assert leng.q('str_index("b", "Ab")') == 1
    assert leng.q('char(65)') == "A"
    assert leng.q('char_ord("A")') == 65
    assert leng.q('char_range("a", "c")') == ["a", "b", "c"]


def test_types_golden(leng):
    """Ported reference test_types scalar subset (test_basic.py:1623):
    subtype ordering on the lang's first-class type values.  The
    union/struct type constructors are reference-INTERNAL python API
    (pql_types.py) — composite typing belongs to Catalyst here."""
    assert leng.q('int == int')
    assert leng.q('int != number')
    assert leng.q('int <= number')
    assert leng.q('float <= number')
    assert not leng.q('number <= int')
    assert leng.q('int < number')
    assert leng.q('int >= int')
    assert not leng.q('string <= number')
    # reference pql_types.py: string is the subtype of text
    assert leng.q('string <= text')
    assert not leng.q('text <= string')
    assert leng.q('text >= string')


def test_type_compare_non_type_raises(leng):
    """`int <= 3` is a TypeError in the reference, not a silent
    False — only names in the scalar lattice order-compare."""
    from preql_spark.lang import LangSignal
    with pytest.raises(LangSignal, match="TypeError"):
        leng.q('int <= 3')
    with pytest.raises(LangSignal, match="TypeError"):
        leng.q('3 >= number')


def test_names_golden(leng):
    """Ported reference test_names (test_basic.py:1093-1106): missing
    attribute raises, names()/columns() reflect a declared table."""
    with pytest.raises(AttributeError):
        leng.a
    leng.q('table a {x: int}')
    assert leng.q("list(names(a)[not (type ~ 'function%')]{name})") \
        == ["id", "x"]
    assert leng.q('columns(a)') == {"id": "bigint", "x": "bigint"}


def test_from_python_golden(leng):
    """Ported reference test_from_python (test_basic.py:271-286):
    python-side calls into lang functions and builtins.  Divergence:
    list-typed SQL stays a lazy Table (localize with .collect());
    the reference localizes at the API boundary."""
    leng.q('func f(x) = count(x)')
    assert leng.f([1, 2, 3]) == 3
    assert leng.count([1, 2, 3]) == 3
    en = leng.enum([1])
    assert [r.asDict() for r in en.collect()] == [{"index": 0, "item": 1}]
    assert leng.SQL(int, "SELECT 2") == 2
    lst = leng.SQL(leng.q('type([1])'),
                   "SELECT 1 AS item UNION ALL SELECT 2")
    vals = sorted(r[0] for r in lst.collect()) if hasattr(lst, "collect") \
        else lst
    assert vals == [1, 2]


def test_pandas_golden(leng):
    """Ported reference test_pandas (test_basic.py:1684-1689):
    import_pandas round-trips through a lang projection.  (Our
    createDataFrame adds no auto-id, so no `!id` exclusion needed.)"""
    from pandas import DataFrame
    f = DataFrame([[1, 2, "a"], [4, 5, "b"], [7, 8, "c"]],
                  columns=["x", "y", "z"])
    leng.import_pandas(x=f)
    back = leng.q('x{...}').df.toPandas().sort_values("x") \
        .reset_index(drop=True)
    assert (back == f).all().all()


def test_pipeline_builtins_table_funcs(eng):
    """LLM-pipeline operators as lang builtins: results must equal the
    Python-API spellings they wrap, and compose (nested calls,
    post-filters) like any table expression."""
    from preql_spark.operators import dedup, text
    d = eng.t.documents
    got = eng.q('dedup_exact(documents, "doc_id")').count()
    assert got == dedup.dedup_exact(d.df, "doc_id").count()
    # kwargs pass through (threshold:), results match the operator
    lang_pairs = {(r.id_a, r.id_b) for r in
                  eng.q('minhash_pairs(documents, "doc_id",'
                        ' threshold: 0.9)').collect()}
    api_pairs = {(r.id_a, r.id_b) for r in dedup.minhash_lsh_pairs(
        d.df, "doc_id", threshold=0.9).collect()}
    assert lang_pairs == api_pairs
    # nested composition + selection on the result
    n = eng.q('dedup_canonical(documents,'
              ' simhash_pairs(documents, "doc_id"), "doc_id")'
              '[doc_id < 100]').count()
    assert 0 < n <= 100
    # two-table operator
    dec = eng.q('decontaminate(documents[doc_id % 5 != 0],'
                ' documents[doc_id % 5 == 0], "doc_id")').count()
    assert dec == dedup.decontaminate(
        d.df.filter(d.df.doc_id % 5 != 0),
        d.df.filter(d.df.doc_id % 5 == 0), "doc_id").count()
    # quality metrics flow into ordinary projections/filters
    q30 = eng.q('quality_metrics(documents)[n_tokens >= 30]').count()
    assert q30 == text.quality_metrics(d.df) \
        .filter("n_tokens >= 30").count()
    # leakage-safe split: nested pair source + dict splits, equal to
    # the Python operator row-for-row
    lang_split = {(r.doc_id, r.split) for r in
                  eng.q('leakage_safe_split(documents,'
                        ' minhash_pairs(documents, "doc_id",'
                        ' threshold: 0.9),'
                        ' dict(train: 0.8, valid: 0.1, test: 0.1))'
                        ' {doc_id, split}').collect()}
    # quality-aware canonical with ^desc order specs
    lang_best = sorted(r.doc_id for r in eng.q(
        'dedup_keep_best(documents,'
        ' minhash_pairs(documents, "doc_id", threshold: 0.9),'
        ' "doc_id", "^n_chars", "doc_id") {doc_id}').collect())
    api_best = sorted(r.doc_id for r in dedup.dedup_keep_best(
        d.df, dedup.minhash_lsh_pairs(d.df, "doc_id", threshold=0.9),
        "doc_id", [F.col("n_chars").desc(), F.col("doc_id")])
        .select("doc_id").collect())
    assert lang_best == api_best
    api_split = {(r.doc_id, r.split) for r in dedup.leakage_safe_split(
        d.df, dedup.minhash_lsh_pairs(d.df, "doc_id", threshold=0.9),
        {"train": 0.8, "valid": 0.1, "test": 0.1})
        .select("doc_id", "split").collect()}
    assert lang_split == api_split


def test_lang_curation_capstone_parity(eng):
    """The whole r11 curation capstone composes in ONE lang
    expression — per-row scalars (canonicalize_url → host_of,
    normalize_text) inside a projection feeding the pipeline
    builtins (minhash_pairs → dedup_keep_best → leakage_safe_split
    → concentration) — and equals the Python API composition
    value-for-value.  This is the proof the r11 pieces compose in
    the query LANGUAGE, not just the Python API."""
    from preql_spark.operators import dedup
    from preql_spark.operators import text as t
    page_l = ('documents{doc_id, '
              'host: host_of(canonicalize_url('
              '"HTTPS://" + source + ".Ex.COM:443/p/")), '
              'ntext: normalize_text(text), ln: n_chars}')
    pairs_l = ('minhash_pairs(' + page_l +
               ', "doc_id", text_col: "ntext", threshold: 0.9)')
    q = ('concentration(leakage_safe_split(dedup_keep_best('
         + page_l + ', ' + pairs_l + ', "doc_id", "^ln", "doc_id"), '
         + pairs_l + ', dict(train: 0.8, valid: 0.1, test: 0.1)), '
         '"split", "host", weight: "ln")')
    lang = {r.split: (r.n_keys, r.total, round(r.hhi, 9),
                      round(r.top_share, 9))
            for r in eng.q(q).collect()}

    d = eng.t.documents.df
    url = F.concat(F.lit("HTTPS://"), F.col("source"),
                   F.lit(".Ex.COM:443/p/"))
    page = d.select("doc_id",
                    t.host_of(t.canonicalize_url(url)).alias("host"),
                    t.normalize_text("text").alias("ntext"),
                    F.col("n_chars").alias("ln"))
    prs = dedup.minhash_lsh_pairs(page, "doc_id", text_col="ntext",
                                  threshold=0.9)
    api_df = t.concentration(
        dedup.leakage_safe_split(
            dedup.dedup_keep_best(
                page, prs, "doc_id",
                [F.col("ln").desc(), F.col("doc_id")]),
            prs, {"train": 0.8, "valid": 0.1, "test": 0.1}),
        ["split"], "host", "ln")
    api = {r.split: (r.n_keys, r.total, round(r.hhi, 9),
                     round(r.top_share, 9))
           for r in api_df.collect()}
    assert lang == api and set(lang) <= {"train", "valid", "test"}


def test_pipeline_builtins_scalars(eng):
    """Per-row text kernels as lang scalar functions."""
    rows = eng.q('documents{doc_id, n: token_count(text),'
                 ' l: lang_id(text), f: fingerprint(text)}') \
        .limit(5).collect()
    assert all(r.n > 0 and isinstance(r.f, int) for r in rows)
    assert all(r.l in ("en", "de", "es", "fr", "zh", "und")
               for r in rows)
    # scalar builtins compose into predicates
    n = eng.q('documents[token_count(text) >= 30]').count()
    from preql_spark.operators.text import token_count
    from pyspark.sql import functions as SF
    assert n == eng.t.documents.df.filter(
        token_count(SF.col("text")) >= 30).count()


def test_pipeline_builtins_errors_and_help(eng):
    """A pipeline func with no table argument raises; names appear in
    the builtin listing so autocomplete/help() see them."""
    import pytest as _pt

    from preql_spark.lang import _TABLE_FUNCS, LangSignal
    assert {"dedup_exact", "minhash_pairs", "semdedup",
            "lsh_cosine_pairs"} <= _TABLE_FUNCS
    with _pt.raises(LangSignal, match="table"):
        eng.q('dedup_exact(1, "doc_id")')


def test_pipeline_builtins_sampling(eng):
    """Sampling/splitting/balancing Table methods as lang builtins,
    with lang dict(...) literals for the ratio mappings."""
    d = eng.t.documents
    assert eng.q('sample_hash(documents, "doc_id", 0.3)').count() == \
        d.sample_hash("doc_id", 0.3).count()
    sp = eng.q('split_by_hash(documents, "doc_id",'
               ' dict(train: 0.9, valid: 0.05, test: 0.05))')
    got = {r["split"] for r in sp.df.select("split").distinct().collect()}
    assert got <= {"train", "valid", "test"} and "train" in got
    assert sp.count() == d.count()
    mix = eng.q('sample_mixture(documents, "source",'
                ' dict(src0: 1.0, src1: 0.5), "doc_id")').count()
    assert mix == d.sample_mixture(
        "source", {"src0": 1.0, "src1": 0.5}, key="doc_id").count()
    cap = eng.q('cap_per_domain(documents, "source", 10,'
                ' "^n_chars", "doc_id")')
    per = cap.df.groupBy("source").count().collect()
    assert per and all(r["count"] <= 10 for r in per)
    w = eng.q('sample_weighted(documents, "doc_id", "n_chars", 25)')
    assert w.count() == 25
    # host-table errors still raise cleanly
    import pytest as _pt

    from preql_spark.lang import LangSignal
    with _pt.raises(LangSignal, match="table"):
        eng.q('sample_hash(3, "doc_id", 0.3)')


def test_parser_fuzz_no_internal_crashes(eng):
    """Seeded fuzz over the token alphabet: every input must either
    evaluate or raise a CLEAN error (LangSignal / NameError /
    TypeError / ValueError / SyntaxError / AttributeError / Spark
    AnalysisException) — never an internal IndexError/KeyError/
    Py4JError.  Found-and-fixed by this fuzzer: bare `limit()`
    arity IndexError, `x ~ 2.5` Py4J like() crash."""
    import random

    from pyspark.errors.exceptions.captured import AnalysisException

    from preql_spark.lang import LangSignal
    allowed = (LangSignal, NameError, TypeError, ValueError,
               SyntaxError, AttributeError, AnalysisException)
    tokens = ["nation", "documents", "{", "}", "[", "]", "(", ")",
              "=>", "=", "==", "!=", "<", ">", "+", "-", "*", "/",
              "%", "..", ",", ":", "count()", "sum", "n_name",
              "doc_id", "x", "1", "2.5", '"s"', "and", "or", "not",
              "if", "else", "func", "table", "new", "order", "^",
              "...", "!", "in", "~", "$", "one", "null", "true",
              "distinct", "join", "limit", ";", "\n", "->", ".",
              "page", "enum", "list", "<=", ">=", "**", "/~",
              "map_range", "dict", "fmt",
              # r5 additions: in-table membership (semi-join lowering
              # + _SemiPred fallbacks), !in, dir.  serve_rest is
              # deliberately NOT fuzzed: a lucky token draw would
              # start a real blocking server
              "!in", "n_nationkey", "dir"]
    rng = random.Random(1234)
    crashes = []
    for _ in range(400):
        src = " ".join(rng.choices(tokens, k=rng.randint(1, 10)))
        try:
            eng.q(src)
        except allowed:
            pass
        except Exception as e:  # noqa: BLE001 - the assertion target
            crashes.append((src, type(e).__name__))
    assert not crashes, crashes[:5]


def test_zero_arg_builtins_raise_cleanly(eng):
    """The generic arity backstop: zero-arg calls of positional
    builtins (fmt, type, repr, ...) are TypeError signals, never
    internal IndexError (second fuzzer finding)."""
    from preql_spark.lang import LangSignal
    for src in ("fmt()", "type()", "repr()", "force_eval()",
                "inspect_sql()", "columns()", "list()"):
        with pytest.raises((LangSignal, TypeError, NameError)):
            eng.q(src)


def test_in_table_lowers_to_semi_join(eng):
    """Selection `x in <table>` lowers to a LeftSemi join engine-side
    (reference Contains compiles to IN (SELECT ...), sql.py:319-329)
    — no driver collect, no 100k bound."""
    out = eng.q('customer[c_nationkey in '
                'nation[n_regionkey == 0]{n_nationkey}]')
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    exp = eng.spark.sql(
        "SELECT count(*) FROM {c} WHERE c_nationkey IN "
        "(SELECT n_nationkey FROM {n} WHERE n_regionkey = 0)",
        c=eng.t.customer.df, n=eng.t.nation.df).collect()[0][0]
    assert out.count() == exp > 0


def test_not_in_table_null_aware_anti(eng):
    """`!in <table>` keeps SQL NOT IN semantics via the null-aware
    LeftAnti shape Spark's own NOT-IN rewrite produces."""
    out = eng.q('customer[c_nationkey !in '
                'nation[n_regionkey == 0]{n_nationkey}]')
    plan = out.df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    exp = eng.spark.sql(
        "SELECT count(*) FROM {c} WHERE c_nationkey NOT IN "
        "(SELECT n_nationkey FROM {n} WHERE n_regionkey = 0)",
        c=eng.t.customer.df, n=eng.t.nation.df).collect()[0][0]
    assert out.count() == exp > 0
    # NOT IN with a NULL on the RHS is SQL-empty — the null-aware
    # join must reproduce that quirk, not anti-join semantics
    eng2 = type(eng)(eng.spark)
    eng2.register("lhs", eng.spark.createDataFrame(
        [(1,), (2,)], "x long"))
    eng2.register("rhs", eng.spark.sql(
        "SELECT * FROM VALUES (1), (NULL) AS t(x)"))
    assert eng2.q('lhs[x !in rhs{x}]').count() == 0


def test_in_table_projection_context_falls_back(eng):
    """Outside a selection the membership is a bounded literal
    column (the semi-join is selection-only)."""
    out = eng.q('customer{c_custkey, '
                'is0: c_nationkey in nation[n_regionkey == 0]'
                '{n_nationkey}}')
    semi_rows = eng.q('customer[c_nationkey in '
                      'nation[n_regionkey == 0]{n_nationkey}]').count()
    assert out.df.where("is0").count() == semi_rows


def test_dir_builtin_aliases_names(eng):
    """`dir()` is the reference's alias for names()
    (pql_functions.py:1103)."""
    a = {tuple(r) for r in eng.q('dir()').collect()}
    b = {tuple(r) for r in eng.q('names()').collect()}
    assert a == b and len(a) > 0


def test_serve_rest_lang_builtin(eng):
    """serve_rest(name: endpoint, ...) from the language
    (pql_functions.py:985-1040); block:false returns the handle."""
    import json
    import urllib.request
    srv = eng.q('func hello() = "Hello World!";'
                'serve_rest(hi: hello, tab: nation, '
                'port: 0, block: false)')
    try:
        port = srv.server_port
        idx = json.load(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/"))
        hi = json.load(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/hi"))
        tab = json.load(urllib.request.urlopen(
            f"http://127.0.0.1:{port}/tab?limit=3"))
    finally:
        srv.shutdown()
    assert idx == ["hi", "tab"]
    assert hi == "Hello World!" and len(tab) == 3
    from preql_spark.lang import LangSignal
    with pytest.raises(LangSignal, match="endpoint"):
        eng.q('serve_rest(port: 0)')


def test_operator_index_error_not_mislabeled(eng):
    """An IndexError raised INSIDE an eagerly-executed operator body
    must surface as-is, not as the arity backstop's 'wrong number of
    arguments' (ADVICE r4): only IndexErrors that never left lang.py
    frames are arity misses."""
    from preql_spark import lang as _lang

    def boom(*a, **k):
        raise IndexError("operator-internal")

    orig = _lang._names_table
    _lang._names_table = boom
    try:
        with pytest.raises(IndexError, match="operator-internal"):
            eng.q('names()')
    finally:
        _lang._names_table = orig


def test_in_table_null_lhs_sql_semantics(eng):
    """NULL on the LEFT of in/!in filters out under both spellings —
    SQL's NULL IN (...) and NULL NOT IN (...) are both not-true."""
    eng2 = type(eng)(eng.spark)
    eng2.register("lhs", eng.spark.sql(
        "SELECT * FROM VALUES (1), (3), (NULL) AS t(x)"))
    eng2.register("rhs", eng.spark.createDataFrame([(1,), (2,)], "x long"))
    hits = sorted(r.x for r in eng2.q('lhs[x in rhs{x}]').collect())
    assert hits == [1]
    miss = sorted(r.x for r in eng2.q('lhs[x !in rhs{x}]').collect())
    assert miss == [3]          # NULL row excluded by both


def test_lang_cosine_topk_arrow_builtin(eng):
    """The BLAS top-k is reachable from the language and agrees with
    the HOF builtin; operator kwargs (pair_method:) pass through."""
    a = eng.q('cosine_topk_arrow(embeddings, embeddings[vec_id < 3],'
              ' k: 4)')
    h = eng.q('cosine_topk(embeddings, embeddings[vec_id < 3], k: 4)')
    sa = sorted((r.query_id, r.neighbor_id, r.rank) for r in a.collect())
    sh = sorted((r.query_id, r.neighbor_id, r.rank) for r in h.collect())
    assert sa == sh and len(sa) == 12
    s1 = eng.q('semdedup(embeddings, tau: 0.45, k: 4,'
               ' pair_method: "sql")')
    s2 = eng.q('semdedup(embeddings, tau: 0.45, k: 4)')
    assert sorted(map(tuple, s1.collect())) == \
        sorted(map(tuple, s2.collect()))


def test_pipeline_builtins_spans_and_pq(eng):
    """Round-6 builtins: duplicate_spans and pq_topk from the lang
    equal their Python-API spellings."""
    from preql_spark.operators import dedup, similarity
    d = eng.t.documents
    lang_rows = {(r.doc_id, r.n_spans, r.dup_tokens) for r in
                 eng.q('duplicate_spans(documents, k: 5)').collect()}
    api_rows = {(r.doc_id, r.n_spans, r.dup_tokens) for r in
                dedup.duplicate_spans(d.df, k=5).collect()}
    assert lang_rows == api_rows and len(lang_rows) > 0

    e = eng.t.embeddings
    lang_top = {(r.query_id, r.rank): r.vec_id for r in
                eng.q('pq_topk(embeddings, embeddings[vec_id < 2],'
                      ' k: 3)').collect()}
    cb = similarity.pq_codebook(e.df, dim=64, m=8, ksub=16)
    enc = similarity.pq_encode(e.df, cb, method="arrow")
    api_top = {(r.query_id, r.rank): r.vec_id for r in
               similarity.pq_adc_topk(
                   enc, e.df.filter("vec_id < 2"), cb, k=3).collect()}
    assert lang_top == api_top and len(lang_top) == 6


def test_pipeline_builtins_search(eng):
    """postings + phrase_search from the lang equal the Python API."""
    from preql_spark.operators import text
    d = eng.t.documents
    lang_rows = {(r.doc_id, r.n_hits) for r in
                 eng.q('phrase_search(postings(documents),'
                       ' "the table")').collect()}
    api_rows = {(r.doc_id, r.n_hits) for r in
                text.phrase_search(text.postings(d.df),
                                   "the table").collect()}
    assert lang_rows == api_rows and len(lang_rows) > 0


def test_pipeline_builtin_ranked_search(eng):
    from preql_spark.operators import text
    lang_rows = {(r.doc_id, r.rank) for r in
                 eng.q('ranked_search(documents, "hash table", k: 5)')
                 .collect()}
    api_rows = {(r.doc_id, r.rank) for r in
                text.ranked_search(eng.t.documents.df, "hash table",
                                   k=5).collect()}
    assert lang_rows == api_rows and len(lang_rows) == 5


def test_pipeline_builtin_hybrid_search(eng):
    from preql_spark.operators import text
    lang_rows = {(r.doc_id, r.rank) for r in
                 eng.q('hybrid_search(documents, embeddings,'
                       ' "hash table", 7, k: 5)').collect()}
    api_rows = {(r.doc_id, r.rank) for r in
                text.hybrid_search(eng.t.documents.df,
                                   eng.t.embeddings.df,
                                   "hash table", 7, k=5).collect()}
    assert lang_rows == api_rows and len(lang_rows) == 5


def test_pipeline_builtin_r6_late_additions(eng):
    """Lang spellings of the round-6 late additions equal their
    Python-API results: random_project, frequent_items,
    topk_per_group, scrub_contaminated_spans."""
    from preql_spark.operators import dedup, similarity, sketch
    from preql_spark.operators.topk import topk_per_group

    lp = {(r.vec_id, tuple(round(x, 9) for x in r.projected)) for r in
          eng.q('random_project(embeddings, out_dim: 4, dim: 64,'
                ' method: "hof")').collect()}
    ap = {(r.vec_id, tuple(round(x, 9) for x in r.projected)) for r in
          similarity.random_project(eng.t.embeddings.df, 4, 64,
                                    method="hof").collect()}
    assert lp == ap and len(lp) > 0

    lf = {(r.item, r.cnt) for r in
          eng.q('frequent_items(documents{item: source}, "item",'
                ' phi: 0.05)').collect()}
    af = {(r.item, r.cnt) for r in
          sketch.frequent_items(
              eng.t.documents.df.selectExpr("source as item"),
              "item", phi=0.05).collect()}
    assert lf == af and len(lf) > 0

    lt = {(r.o_orderpriority, r.o_orderkey, r.rank) for r in
          eng.q('topk_per_group(orders, "o_orderpriority",'
                ' "o_totalprice", 3, tie_col: "o_orderkey")').collect()}
    at = {(r.o_orderpriority, r.o_orderkey, r.rank) for r in
          topk_per_group(eng.t.orders.df, ["o_orderpriority"],
                         "o_totalprice", 3,
                         tie_col="o_orderkey").collect()}
    assert lt == at and len(lt) > 0

    ls = {(r.doc_id, r.dropped_tokens) for r in
          eng.q('scrub_contaminated_spans(documents[doc_id % 10 != 0],'
                ' documents[doc_id % 10 == 0], k: 5)').collect()}
    as_ = {(r.doc_id, r.dropped_tokens) for r in
           dedup.scrub_contaminated_spans(
               eng.t.documents.df.filter("doc_id % 10 != 0"),
               eng.t.documents.df.filter("doc_id % 10 = 0"),
               k=5).collect()}
    assert ls == as_ and len(ls) > 0


def test_pipeline_builtin_r6_second_batch(eng):
    """Lang spellings of the second round-6 late batch equal their
    Python-API results: quantile_rollup, rrf_fuse (weighted, two
    sources), mmr_diversify."""
    from preql_spark.operators import sketch, similarity, text

    key = lambda t: tuple("" if x is None else x for x in t)  # noqa: E731
    lq = sorted((tuple(r) for r in
                 eng.q('quantile_rollup(orders, "o_orderstatus",'
                       ' "o_totalprice", q1: 0.5, q2: 0.9)').collect()),
                key=key)
    aq = sorted((tuple(r) for r in
                 sketch.quantile_rollup(eng.t.orders.df, "o_orderstatus",
                                        "o_totalprice",
                                        [0.5, 0.9]).collect()),
                key=key)
    assert lq == aq and len(lq) > 1

    lr = {tuple(r) for r in
          eng.q('rrf_fuse(ranked_search(documents, "hash table", k: 10),'
                ' ranked_search(documents, "scan batch", k: 10),'
                ' k: 8, w1: 2.0, w2: 1.0)').collect()}
    a = text.ranked_search(eng.t.documents.df, "hash table", k=10)
    b = text.ranked_search(eng.t.documents.df, "scan batch", k=10)
    ar = {tuple(r) for r in
          text.rrf_fuse([a.select("doc_id", "rank"),
                         b.select("doc_id", "rank")],
                        k=8, weights=[2.0, 1.0]).collect()}
    assert lr == ar and len(lr) == 8

    cand = (similarity.cosine_topk(
                eng.t.embeddings.df,
                eng.t.embeddings.df.filter("vec_id = 7"), k=15)
            .select(F.col("neighbor_id").alias("vec_id"),
                    F.col("sim").alias("rel"))
            .join(eng.t.embeddings.df.select("vec_id", "embedding"),
                  "vec_id"))
    am = {tuple(r) for r in
          similarity.mmr_diversify(cand, k=4, lam=0.7).collect()}
    lm = {tuple(r) for r in
          eng.q('mmr_diversify('
                'join(t: cosine_topk(embeddings,'
                ' embeddings[vec_id == 7], k: 15)'
                '{vec_id: neighbor_id, rel: sim},'
                ' e: embeddings{vec_id, embedding},'
                ' on: t.vec_id == e.vec_id)'
                '{vec_id: t.vec_id, rel: t.rel,'
                ' embedding: e.embedding},'
                ' k: 4, lam: 0.7)').collect()}
    assert lm == am and len(lm) == 4


def test_pipeline_builtin_r6_third_batch(eng):
    """Lang spellings of temperature_mixture (table method) and
    budget_select (pipeline func) equal their Python-API results."""
    from preql_spark.operators.text import budget_select, token_count

    d_api = eng.from_df(eng.t.documents.df.withColumn(
        "grp", F.substring("source", 4, 1)))
    am = {r.doc_id for r in
          d_api.temperature_mixture("grp", "doc_id", 150,
                                    alpha=0.5).collect()}
    lm = {r.doc_id for r in
          eng.q('temperature_mixture('
                'documents{..., grp: source[3..4]},'
                ' "grp", "doc_id", 150, alpha: 0.5)').collect()}
    assert lm == am and len(lm) > 0

    scored = eng.t.documents.df.select(
        "doc_id", F.length("text").cast("long").alias("q"),
        token_count(F.col("text")).cast("int").alias("tok"))
    ai = {(r.doc_id, r.pos) for r in
          eng.t.documents.interleave_sources("source",
                                             "doc_id").collect()}
    li = {(r.doc_id, r.pos) for r in
          eng.q('interleave_sources(documents, "source",'
                ' "doc_id")').collect()}
    assert li == ai and len(li) > 0

    ab = {r.doc_id for r in
          budget_select(scored, 4000, "q", "tok").collect()}
    lb = {r.doc_id for r in
          eng.q('budget_select(documents{doc_id,'
                ' q: int(length(text)),'
                ' tok: token_count(text)},'
                ' 4000, "q", "tok")').collect()}
    assert lb == ab and len(lb) > 0


def test_pipeline_builtin_r6_fourth_batch(eng):
    """Lang spellings of the BPE/diversity batch equal their
    Python-API results: adjacent_pair_counts, ngram_diversity, and
    the bpe_merge_pair scalar."""
    from preql_spark.operators.text import (adjacent_pair_counts,
                                            bpe_merge_pair,
                                            ngram_diversity)
    ap = {tuple(r) for r in
          adjacent_pair_counts(eng.t.documents.df, k=10).collect()}
    lp = {tuple(r) for r in
          eng.q('adjacent_pair_counts(documents, k: 10)').collect()}
    assert lp == ap and len(lp) == 10

    ad = {tuple(r) for r in
          ngram_diversity(eng.t.documents.df, 2, "source").collect()}
    ld = {tuple(r) for r in
          eng.q('ngram_diversity(documents, n: 2,'
                ' group_col: "source")').collect()}
    assert ld == ad and len(ld) > 0

    am = {(r.doc_id, tuple(r.m)) for r in
          eng.t.documents.df.select(
              "doc_id", bpe_merge_pair(F.col("text"), "the", "table")
              .alias("m")).collect()}
    lm = {(r.doc_id, tuple(r.m)) for r in
          eng.q('documents{doc_id,'
                ' m: bpe_merge_pair(text, "the", "table")}').collect()}
    assert lm == am and len(lm) > 0


def test_pipeline_builtin_r7_event_batch(eng):
    """Lang spellings of the event-analytics/fuzzy batch equal their
    Python-API results: funnel (steps as one space-separated string),
    cohort_retention, transition_counts, winsorize, ewma,
    fuzzy_pairs."""
    from preql_spark.operators import events as EV
    from preql_spark.operators.fuzzy import fuzzy_pairs
    e = eng.t.events.df

    af = {tuple(r) for r in
          EV.funnel(e, ["view", "click", "purchase"],
                    within_seconds=28800).collect()}
    lf = {tuple(r) for r in
          eng.q('funnel(events, "view click purchase",'
                ' within: 28800)').collect()}
    assert lf == af and len(lf) == 3

    ac = {tuple(r) for r in
          EV.cohort_retention(e, period_days=7).collect()}
    lc = {tuple(r) for r in
          eng.q('cohort_retention(events, period_days: 7)').collect()}
    assert lc == ac and len(lc) > 0

    at = {tuple(r) for r in EV.transition_counts(e).collect()}
    lt = {tuple(r) for r in
          eng.q('transition_counts(events)').collect()}
    assert lt == at and len(lt) > 0

    aw = {(r.event_id, round(r.value_w, 6)) for r in
          EV.winsorize(e, ["event_type"], "value").collect()}
    lw = {(r.event_id, round(r.value_w, 6)) for r in
          eng.q('winsorize(events, "event_type", "value")').collect()}
    assert lw == aw and len(lw) > 0

    am = {(r.user_id, r.n, round(r.ewma, 9)) for r in
          EV.ewma(e, ["user_id"], "ts", "value", 0.25,
                  tie_col="event_id").collect()}
    lm = {(r.user_id, r.n, round(r.ewma, 9)) for r in
          eng.q('ewma(events, "user_id", "ts", "value", 0.25,'
                ' tie_col: "event_id")').collect()}
    assert lm == am and len(lm) > 0

    c = eng.t.customer.df.filter("c_custkey % 7 = 0")
    az = {tuple(r) for r in
          fuzzy_pairs(c, "c_custkey", "c_name", 2).collect()}
    lz = {tuple(r) for r in
          eng.q('fuzzy_pairs(customer[c_custkey % 7 == 0],'
                ' "c_custkey", "c_name", 2)').collect()}
    assert lz == az and len(lz) > 0


def test_pipeline_builtin_funnel_times_rfm(eng):
    """Lang spellings of funnel_times / rfm_scores equal their
    Python-API results."""
    from preql_spark.operators import events as EV
    e = eng.t.events.df

    aft = {tuple(str(v) for v in r) for r in
           EV.funnel_times(e, ["view", "click"]).collect()}
    lft = {tuple(str(v) for v in r) for r in
           eng.q('funnel_times(events, "view click")').collect()}
    assert lft == aft and len(lft) > 0

    ar = {tuple(r) for r in EV.rfm_scores(e, n_tiles=4).collect()}
    lr = {tuple(r) for r in
          eng.q('rfm_scores(events, n_tiles: 4)').collect()}
    assert lr == ar and len(lr) > 0


def test_pipeline_builtin_graph_trend_mad(eng):
    """Lang spellings of pagerank / trend / mad_outliers equal their
    Python-API results."""
    from preql_spark.operators import events as EV
    from preql_spark.operators.graph import pagerank
    e = eng.t.events.df

    ed = eng.t.nation.df.select(
        F.col("n_nationkey").cast("string").alias("src"),
        F.col("n_regionkey").cast("string").alias("dst"))
    ap = {tuple(r) for r in pagerank(ed, iters=3).collect()}
    eng.register("edges_nr", ed)
    lp = {tuple(r) for r in
          eng.q('pagerank(edges_nr, iters: 3)').collect()}
    assert lp == ap and len(lp) > 0

    at = {tuple(r) for r in
          EV.trend(e, ["event_type"], origin="2024-01-01").collect()}
    lt = {tuple(r) for r in
          eng.q('trend(events, "event_type",'
                ' origin: "2024-01-01")').collect()}
    assert lt == at and len(lt) > 0

    am = {(r.event_id, r.med_cents, r.mad_cents, r.is_outlier)
          for r in EV.mad_outliers(e, ["event_type"], k=2.5)
          .collect()}
    lm = {(r.event_id, r.med_cents, r.mad_cents, r.is_outlier)
          for r in eng.q('mad_outliers(events, "event_type", k: 2.5)')
          .collect()}
    assert lm == am and len(lm) > 0


def test_pipeline_builtin_token_entropy(eng):
    """Lang token_entropy equals the Python API."""
    from preql_spark.operators.text import token_entropy
    a = {tuple(r) for r in
         token_entropy(eng.t.documents.df, "source").collect()}
    l = {tuple(r) for r in
         eng.q('token_entropy(documents, "source")').collect()}
    assert l == a and len(l) > 0


def test_pipeline_builtin_session_paths(eng):
    """Lang session_paths equals the Python API."""
    from preql_spark.operators.events import session_paths
    a = [(r.path, r.n_sessions) for r in
         session_paths(eng.t.events.df, k=10).collect()]
    l = [(r.path, r.n_sessions) for r in
         eng.q('session_paths(events, k: 10)').collect()]
    assert l == a and len(l) == 10


def test_pipeline_builtin_quantile_sketch(eng):
    """Lang quantile_sketch equals the Python two-step t-digest."""
    from preql_spark.operators.sketch import tdigest, tdigest_quantiles
    a = {tuple(r) for r in tdigest_quantiles(
        tdigest(eng.t.events.df, ["event_type"], "value"),
        ["event_type"], (0.5, 0.9)).collect()}
    l = {tuple(r) for r in
         eng.q('quantile_sketch(events, "event_type", "value")')
         .collect()}
    assert l == a and len(l) > 0


def test_pipeline_builtin_ks_drift(eng):
    """Lang ks_drift equals the Python API."""
    from preql_spark.operators.events import ks_statistic
    a = tuple(ks_statistic(eng.t.events.df, "value", "event_type",
                           "view", "click").collect()[0])
    l = tuple(eng.q('ks_drift(events, "value", "event_type",'
                    ' "view", "click")').collect()[0])
    assert l == a
    # quantize_to kwarg threads through to the tick-rounding knob
    aq = tuple(ks_statistic(eng.t.events.df, "value", "event_type",
                            "view", "click",
                            quantize_to=7.5).collect()[0])
    lq = tuple(eng.q('ks_drift(events, "value", "event_type",'
                     ' "view", "click", quantize_to: 7.5)')
               .collect()[0])
    assert lq == aq and lq != l


def test_pipeline_builtin_ab_test_triangles(eng):
    """Lang ab_test / triangle_count equal their Python APIs."""
    from preql_spark.operators.events import ab_test
    from preql_spark.operators.graph import triangle_count
    a = tuple(ab_test(eng.t.events.df, "event_type", "view",
                      "click", "value > 50").collect()[0])
    l = tuple(eng.q('ab_test(events, "event_type", "view",'
                    ' "click", "value > 50")').collect()[0])
    assert l == a
    ed = eng.t.customer.df.selectExpr("c_custkey % 50 AS src",
                                      "(c_custkey * 7 + 1) % 50"
                                      " AS dst")
    eng.register("tri_edges", ed)
    at = triangle_count(ed).collect()[0].n_triangles
    lt = eng.q('triangle_count(tri_edges)').collect()[0].n_triangles
    assert lt == at


def test_pipeline_builtin_psi_containment(eng):
    """Lang psi_drift / ngram_containment_pairs equal their Python
    APIs."""
    from preql_spark.operators.dedup import ngram_containment_pairs
    from preql_spark.operators.events import psi
    cents = eng.t.events.df.selectExpr(
        "event_type", "cast(floor(value * 100 + 0.5) as long)"
        " AS cents")
    eng.register("events_cents", cents)
    a = tuple(psi(cents, "cents", "event_type",
                  "view", "error", 8).collect()[0])
    l = tuple(eng.q('psi_drift(events_cents, "cents", "event_type",'
                    ' "view", "error", n_buckets: 8)').collect()[0])
    assert l == a
    d = eng.t.documents.df.filter("doc_id < 100")
    ac = {tuple(r) for r in
          ngram_containment_pairs(d, "doc_id",
                                  threshold=0.8).collect()}
    lc = {tuple(r) for r in
          eng.q('ngram_containment_pairs(documents[doc_id < 100],'
                ' "doc_id", threshold: 0.8)').collect()}
    assert lc == ac and len(lc) > 0


def test_pipeline_builtin_weighted_pr_assortativity(eng):
    """Lang weighted pagerank / degree_assortativity equal their
    Python APIs."""
    from preql_spark.operators.graph import (degree_assortativity,
                                             pagerank)
    ed = eng.t.nation.df.select(
        F.col("n_nationkey").cast("string").alias("src"),
        F.col("n_regionkey").cast("string").alias("dst"),
        (F.col("n_nationkey") % 3 + 1).alias("w"))
    eng.register("edges_w", ed)
    ap = {tuple(r) for r in
          pagerank(ed, iters=3, weight_col="w").collect()}
    lp = {tuple(r) for r in
          eng.q('pagerank(edges_w, iters: 3, weight_col: "w")')
          .collect()}
    assert lp == ap and len(lp) > 0
    aa = tuple(degree_assortativity(ed).collect()[0])
    la = tuple(eng.q('degree_assortativity(edges_w)').collect()[0])
    assert la == aa


def test_pipeline_builtin_mw_chi2(eng):
    """Lang mann_whitney / chi_square equal their Python APIs."""
    from preql_spark.operators.events import chi_square, mann_whitney
    cents = eng.t.events.df.selectExpr(
        "event_type", "cast(floor(value * 100 + 0.5) as long)"
        " AS cents")
    eng.register("events_cents2", cents)
    a = tuple(mann_whitney(cents, "cents", "event_type",
                           "view", "click").collect()[0])
    l = tuple(eng.q('mann_whitney(events_cents2, "cents",'
                    ' "event_type", "view", "click")').collect()[0])
    assert l == a
    ac = tuple(chi_square(cents, "event_type", "cents").collect()[0])
    lc = tuple(eng.q('chi_square(events_cents2, "event_type",'
                     ' "cents")').collect()[0])
    assert lc == ac


def test_pipeline_builtin_hits_sssp(eng):
    """Lang hits / shortest_paths equal their Python APIs."""
    from preql_spark.operators.graph import hits, shortest_paths
    ed = eng.t.customer.df.selectExpr(
        "c_custkey % 40 AS src", "(c_custkey * 11 + 3) % 40 AS dst")
    eng.register("hedges", ed)
    ah = {tuple(r) for r in hits(ed, iters=2).collect()}
    lh = {tuple(r) for r in
          eng.q('hits(hedges, iters: 2)').collect()}
    assert lh == ah and len(lh) > 0
    srcs = eng.t.nation.df.selectExpr(
        "cast(n_nationkey % 2 as bigint) AS n").limit(1)
    eng.register("sss", srcs)
    asp = {tuple(r) for r in shortest_paths(ed, srcs).collect()}
    lsp = {tuple(r) for r in
           eng.q('shortest_paths(hedges, sss)').collect()}
    assert lsp == asp and len(lsp) > 0
