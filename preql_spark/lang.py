"""A Preql-syntax query front-end compiling directly to DataFrame ops.

Covers the language core (reference grammar
``/root/reference/preql/core/preql.lark``, 197 lines — ours is a
deliberately small recursive-descent subset, NOT a port of the Lark
LALR pipeline):

    Person[age > 18]{name, age}            selection + projection
    Person{country => count(), names: name} group-by (bare col → array)
    t order {a, ^b}                        multi-key sort, ^ desc
    t[3..8]                                slice (OFFSET/LIMIT)
    [1..100]                               integer range table
    join(a: Person, b: Country)            n-ary struct join (FK auto)
    count(t) / sum(t{x}) ...               whole-table aggregates
    arithmetic + - * / /~ %, comparisons == != < > <= >= ~ (like),
    and/or/not, in, function calls, dotted access (j{a.name})

Compilation model (mirrors SURVEY §3.4's "new engine IR"): source →
tokens → direct evaluation against (engine, current-table context) →
Table / Column.  Projection/aggregation context decides whether a bare
column is a value or becomes ``collect_list`` — the role of the
reference's phantom types (pql_types.py:279-280), carried here as a
plain flag.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from preql_spark import exprs
from preql_spark.table import Table, desc as desc_marker

_TOKEN_RE = re.compile(r"""
    (?P<comment>//[^\n]*|\#[^\n]*)
  | (?P<cont>\\[ \t]*\n[ \t]*)
  | (?P<nl>\n[ \t\r\n]*)
  | (?P<ws>[ \t\r]+)
  | (?P<float>\d+\.\d+)
  | (?P<int>\d+)
  | (?P<dots>\.\.\.|\.\.)
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<sname>\$[A-Za-z_][A-Za-z0-9_]*)
  | (?P<string>\"\"\"[\s\S]*?\"\"\"|'''[\s\S]*?'''
        |"(?:\\.|[^"\\])*"|'(?:\\.|[^'\\])*')
  | (?P<op><>|==|!=|<=|>=|=>|!in|/~|\*\*|\+=|[-+*/%<>=~^(){}\[\],:.!|&;?])
""", re.VERBOSE)

_KEYWORDS = {"and", "or", "not", "in", "order", "new", "one", "null",
             "true", "false", "func", "if", "else",
             # statement keywords (preql.lark:2-17,83-85)
             "while", "for", "return", "throw", "try", "catch",
             "print", "assert", "table", "const", "bare",
             "update", "delete", "transaction", "struct", "like",
             "import"}

# built-in exception types for `new X(msg)` / `catch(X)` — the
# reference's T.Exception subtree (pql_types.py; Signal in exceptions)
_EXC_TYPES = {"Exception", "TypeError", "ValueError", "AssertError",
              "KeyError", "IndexError", "NotImplementedError",
              "CastError", "DbError"}


class LangSignal(Exception):
    """Reference Signal (exceptions.py): a typed in-language exception
    thrown by ``throw new X(msg)`` and caught by ``catch (X)``."""

    def __init__(self, type_name: str, message: str = ""):
        super().__init__(f"{type_name}: {message}")
        self.type_name = type_name
        self.message = message

    def isa(self, type_name: str) -> bool:
        return type_name == "Exception" or type_name == self.type_name


class _ReturnSignal(Exception):
    def __init__(self, value):
        self.value = value


#: scalar subtype lattice: name -> every name it is a subtype of
#: (reflexive).  Mirrors the reference's numeric/text hierarchies
#: (preql/core/pql_types.py).
_TYPE_ANCESTORS = {
    "int": {"int", "number", "any"},
    "float": {"float", "number", "any"},
    "number": {"number", "any"},
    # reference pql_types.py: T.string is the SUBtype of T.text
    # (string <= text), not the other way around
    "string": {"string", "text", "any"},
    "text": {"text", "any"},
    "bool": {"bool", "any"},
    "timestamp": {"timestamp", "any"},
    "table": {"table", "any"},
    "list": {"list", "table", "any"},
    "nulltype": {"nulltype", "any"},
    "any": {"any"},
}


@dataclass
class Tok:
    kind: str
    text: str


class _SemiPred:
    """A vector `x in <table>` membership predicate, kept symbolic so a
    SELECTION can lower it to an engine-side semi/anti join instead of
    collecting the RHS to the driver (reference Contains compiles to
    `IN (SELECT ...)` — sql.py:319-329; the Spark-native equivalent is
    LeftSemi/LeftAnti).  Any non-selection context (projection value,
    nested boolean arithmetic) falls back to a BOUNDED literal
    membership via :meth:`as_column`."""

    __slots__ = ("col", "rhs", "negate")

    def __init__(self, col: Column, rhs, negate: bool):
        self.col, self.rhs, self.negate = col, rhs, negate

    def apply(self, tab):
        """Lower onto a Table as a LeftSemi (or null-aware LeftAnti —
        the `(l = r) OR isnull(l = r)` shape Spark's own NOT-IN
        rewrite produces, keeping SQL NOT IN null semantics)."""
        rdf = self.rhs.df.select(
            F.col(self.rhs.df.columns[0]).alias("__inval"))
        eq = self.col == rdf["__inval"]
        if self.negate:
            return tab._with(
                tab.df.join(rdf, eq | eq.isNull(), "left_anti"))
        return tab._with(tab.df.join(rdf, eq, "left_semi"))

    def as_column(self) -> Column:
        """Bounded driver-side fallback: literal membership (the RHS
        materializes, so it is capped — table-scale membership belongs
        in a selection, where `apply` joins engine-side)."""
        vals = [row[0] for row in self.rhs.df.limit(100_001).collect()]
        if len(vals) > 100_000:
            raise ValueError(
                "`in <table>` must materialize its RHS in this "
                "context (a projection value, nested boolean math, "
                "or a DML-targeting selection) and it exceeds 100k "
                "rows; shrink the RHS, or use a plain read-only "
                "selection `t[x in other]`, which lowers to a "
                "semi-join with no bound")
        c = self.col.isin(vals)
        return ~c if self.negate else c


def _apply_conds(tab, conds):
    """Apply a selection's conditions: plain Columns AND into one
    filter; each symbolic membership lowers to its semi/anti join."""
    cols = [c for c in conds if not isinstance(c, _SemiPred)]
    out = tab.filter(*cols) if cols else tab
    for s in conds:
        if isinstance(s, _SemiPred):
            out = s.apply(out)
    return out


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "\\": "\\",
            '"': '"', "'": "'", "0": "\0"}


def _unescape(s: str) -> str:
    return re.sub(r"\\(.)", lambda m: _ESCAPES.get(m.group(1),
                                                   "\\" + m.group(1)), s)


def tokenize(src: str) -> list[Tok]:
    out, pos = [], 0
    while pos < len(src):
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise SyntaxError(f"cannot tokenize at: {src[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment", "cont"):
            # `cont`: backslash-newline line continuation
            # (examples/movie_recommender.pql)
            continue
        if kind == "nl":
            if out and out[-1].kind != "nl":
                out.append(Tok("nl", "\n"))
            continue
        text = m.group()
        if kind == "op" and text == "<>":
            text = "!="          # grammar alias (preql.lark:90)
        if kind == "name" and text in _KEYWORDS:
            kind = text
        out.append(Tok(kind, text))
    out.append(Tok("eof", ""))
    return out


class Parser:
    """Recursive-descent evaluator: parse and compile in one pass."""

    def __init__(self, engine, src: str, env: dict | None = None):
        self.engine = engine
        self.toks = tokenize(src)
        self.i = 0
        self.env = env if env is not None else {}
        # evaluation context: current table for name resolution, and
        # whether we're on the aggregation side of `=>`
        self.table: Table | None = None
        self.in_agg = False
        # set whenever an aggregate builtin is constructed; reset per
        # projection entry so `{ => sign(item)}` (no aggregate inside)
        # collects to an array like a bare column (reference MakeArray)
        self._agg_seen = False

    # ---- token helpers ---------------------------------------------
    def peek(self, k: int = 0) -> Tok:
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self) -> Tok:
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind: str, text: str | None = None) -> Tok | None:
        t = self.peek()
        if t.kind == kind and (text is None or t.text == text):
            return self.next()
        return None

    def expect(self, kind: str, text: str | None = None) -> Tok:
        t = self.accept(kind, text)
        if t is None:
            raise SyntaxError(
                f"expected {text or kind}, got {self.peek().text!r}")
        return t

    # ---- separators ------------------------------------------------
    def _skip_nl(self):
        while self.peek().kind == "nl":
            self.next()

    def _skip_seps(self):
        while self.peek().kind == "nl" or \
                (self.peek().kind == "op" and self.peek().text == ";"):
            self.next()

    # ---- entry -----------------------------------------------------
    def parse(self):
        """Program: statements separated by ``;`` or newlines (the
        reference grammar is newline-delimited, preql.lark:2-17); the
        value of the last statement is the result — the REPL echoes
        the last expression."""
        v = None
        self._skip_seps()
        try:
            while self.peek().kind != "eof":
                v = self.statement()
                self._skip_seps()
        except _ReturnSignal:
            # reference: `return` at module level is a Signal
            # (test_basic.py:269 `return 1`), not an internal leak
            raise LangSignal("SyntaxError",
                             "'return' outside a function") from None
        self.expect("eof")
        return self._pyval(v) if isinstance(v, Column) else v

    def _pyval(self, v):
        """Localize a table-free scalar expression like the reference
        interpreter (cast_to_python, evaluate.py:338-356) — one-row
        plan, no table scan."""
        if isinstance(v, Column):
            return self.engine.spark.range(1).select(v.alias("v")) \
                .collect()[0]["v"]
        return v

    def _truthy(self, v) -> bool:
        if isinstance(v, Table):
            # table truthiness is non-emptiness (examples/primes.pql)
            return not v.df.isEmpty()
        return bool(self._pyval(v))

    def statement(self):
        """Statement dispatch (reference grammar preql.lark:2-17 and
        execution evaluate.py:173-437): definitions, control flow,
        signals, DDL/DML, assignment, expression."""
        k = self.peek().kind
        if k == "func":
            return self._func_def()
        if k == "struct":
            return self._struct_def()
        if k == "import":
            return self._import_stmt()
        if k == "table" or (k in ("const", "bare")
                            and self.peek(1).kind == "table"):
            return self._table_def()
        if k == "print":
            return self._print_stmt()
        if k == "assert":
            return self._assert_stmt()
        if k == "while":
            return self._while_stmt()
        if k == "for":
            return self._for_stmt()
        if k == "try":
            return self._try_stmt()
        if k == "transaction":
            return self._transaction_stmt()
        if k == "throw":
            self.next()
            v = self.expr()
            if isinstance(v, LangSignal):
                raise v
            raise LangSignal("TypeError",
                             f"can only throw an exception, not {v!r}")
        if k == "return":
            self.next()
            raise _ReturnSignal(self.expr())
        if k == "if":
            # statement form `if (c) {...}` vs expression form
            # `if (c) a else b`: look ahead for the block brace
            save = self.i
            self.next()
            self.expect("op", "(")
            self._capture_parens()
            self._skip_nl()
            is_stmt = self.peek().kind == "op" and self.peek().text == "{"
            self.i = save
            if is_stmt:
                return self._if_stmt()
            return self.expr()
        if k == "name" and self.peek(1).kind == "op" \
                and self.peek(1).text == "=":
            name = self.next().text
            self.next()
            # `A = null` unbinds: the name reads as null afterwards and
            # a later `table A {...}` reconnects to the storage
            # (reference test_partial_table: "A = null; assert A==null")
            nxt = self.peek(1)
            if self.peek().kind == "null" and (
                    nxt.kind in ("nl", "eof")
                    or (nxt.kind == "op" and nxt.text == ";")):
                self.next()
                self.env[name] = None
                return None
            val = self.expr()
            self.env[name] = val
            return val
        if k == "name" and self.peek(1).kind == "op" \
                and self.peek(1).text == "+=":
            return self._insert_stmt()
        return self.expr()

    # ---- span capture (for deferred / repeated execution) ----------
    def _capture_parens(self) -> list:
        """From just after '(' to the matching ')'; returns the inner
        token span (plus eof) and consumes the ')'."""
        start, depth = self.i, 0
        while True:
            t = self.peek()
            if t.kind == "eof":
                raise SyntaxError("unterminated (")
            if t.kind == "op" and t.text == "(":
                depth += 1
            elif t.kind == "op" and t.text == ")":
                if depth == 0:
                    break
                depth -= 1
            self.next()
        span = self.toks[start:self.i] + [Tok("eof", "")]
        self.expect("op", ")")
        return span

    def _capture_block(self) -> list:
        """``{ stmt* }`` codeblock span (preql.lark:60)."""
        self._skip_nl()
        self.expect("op", "{")
        start, depth = self.i, 0
        while True:
            t = self.peek()
            if t.kind == "eof":
                raise SyntaxError("unterminated block")
            if t.kind == "op" and t.text == "{":
                depth += 1
            elif t.kind == "op" and t.text == "}":
                if depth == 0:
                    break
                depth -= 1
            self.next()
        span = self.toks[start:self.i] + [Tok("eof", "")]
        self.expect("op", "}")
        return span

    def _sub(self, toks: list) -> "Parser":
        sub = Parser(self.engine, "")
        sub.toks = toks
        sub.env = self.env          # share bindings (module scope)
        sub.table = self.table
        sub.in_agg = self.in_agg
        return sub

    def _eval_span(self, toks: list):
        sub = self._sub(toks)
        v = sub.expr()
        sub._skip_seps()
        sub.expect("eof")
        return v

    def _exec_block(self, toks: list, extra: dict | None = None):
        """Run a codeblock's statements; ``extra`` bindings shadow the
        shared environment for the duration (use_scope,
        evaluate.py:351-355)."""
        shadow, added = {}, []
        for kk, vv in (extra or {}).items():
            if kk in self.env:
                shadow[kk] = self.env[kk]
            else:
                added.append(kk)
            self.env[kk] = vv
        try:
            sub = self._sub(toks)
            sub._skip_seps()
            last = None
            while sub.peek().kind != "eof":
                last = sub.statement()
                sub._skip_seps()
            return last
        finally:
            self.env.update(shadow)
            for kk in added:
                self.env.pop(kk, None)

    # ---- control flow (evaluate.py:330-383) ------------------------
    def _if_stmt(self, exec_: bool = True):
        self.expect("if")
        self.expect("op", "(")
        cond_span = self._capture_parens()
        block = self._capture_block()
        cond_v = self._eval_span(cond_span) if exec_ else None
        if exec_ and isinstance(cond_v, Column) and self.table is not None:
            # vectorized: the condition references the current table's
            # rows, so the statement compiles to one CASE expression —
            # the reference reaches the same result by evaluating the
            # function body per vectorized instance (test_nonzero:
            # apply_to_list).  Both branches must `return` a value.
            raise _ReturnSignal(self._vector_if(cond_v, block))
        taken = bool(exec_) and self._truthy(cond_v)
        if taken:
            self._exec_block(block)
        save = self.i
        self._skip_nl()
        if self.accept("else"):
            self._skip_nl()
            if self.peek().kind == "if":
                self._if_stmt(exec_=exec_ and not taken)
            else:
                eblock = self._capture_block()
                if exec_ and not taken:
                    self._exec_block(eblock)
        else:
            self.i = save
        return None

    def _vector_if(self, cond_v: Column, then_block: list) -> Column:
        """Compile a block-form if/else over a vectorized condition
        into CASE WHEN.  Branches execute to harvest their returned
        expression (side effects are therefore not supported in
        vectorized branches); else-if chains nest."""
        then_v = self._block_return(then_block)
        self._skip_nl()
        if not self.accept("else"):
            raise LangSignal(
                "NotImplementedError",
                "vectorized if needs an else branch")
        self._skip_nl()
        if self.peek().kind == "if":
            self.expect("if")
            self.expect("op", "(")
            espan = self._capture_parens()
            eblock = self._capture_block()
            else_v = self._vector_if(self._eval_span(espan), eblock)
        else:
            else_v = self._block_return(self._capture_block())
        return exprs.if_else(exprs.truthy(cond_v),
                             self._col(then_v), self._col(else_v))

    def _block_return(self, toks: list):
        try:
            self._exec_block(toks)
        except _ReturnSignal as r:
            return r.value
        raise LangSignal(
            "NotImplementedError",
            "vectorized if branches must return a value")

    def _while_stmt(self):
        self.expect("while")
        self.expect("op", "(")
        cond_span = self._capture_parens()
        block = self._capture_block()
        guard = 0
        while self._truthy(self._eval_span(cond_span)):
            self._exec_block(block)
            guard += 1
            if guard > 10_000_000:
                raise LangSignal("ValueError", "while loop exceeded 1e7 iterations")
        return None

    def _for_stmt(self):
        self.expect("for")
        self.expect("op", "(")
        var = self.expect("name").text
        self.expect("in")
        iterable = self.expr()
        self.expect("op", ")")
        block = self._capture_block()
        for item in self._localize_iter(iterable):
            self._exec_block(block, {var: item})
        return None

    def _localize_iter(self, v):
        """cast_to_python of a for-iterable (evaluate.py:350-355):
        1-column tables yield values, wider tables yield Rows."""
        if isinstance(v, Table):
            rows = v.collect()
            if len(v.df.columns) == 1:
                return [r[0] for r in rows]
            return rows
        if isinstance(v, (list, tuple, range)):
            return v
        raise LangSignal("TypeError", f"cannot iterate over {type(v).__name__}")

    def _try_stmt(self):
        self.expect("try")
        body = self._capture_block()
        self._skip_nl()
        self.expect("catch")
        self.expect("op", "(")
        catch_name = None
        if self.peek().kind == "name" and self.peek(1).kind == "op" \
                and self.peek(1).text == ":":
            catch_name = self.next().text
            self.next()
        type_name = self.expect("name").text
        self.expect("op", ")")
        handler = self._capture_block()
        try:
            self._exec_block(body)
        except LangSignal as e:
            if e.isa(type_name):
                self._exec_block(
                    handler, {catch_name: e} if catch_name else None)
            else:
                raise
        return None

    def _transaction_stmt(self):
        """``transaction { ... }`` (evaluate.py:358-369): commit at
        block exit, roll every mutable table back on a signal."""
        self.expect("transaction")
        block = self._capture_block()
        from preql_spark.sources.mutable import transaction as _txn
        with _txn(*self.engine.mutables.values()):
            self._exec_block(block)
        for name in self.engine.mutables:
            self.engine._sync_mutable(name)
        return None

    def _print_stmt(self):
        self.expect("print")
        vals = [self.expr()]
        while self.accept("op", ","):
            vals.append(self.expr())
        parts = []
        for v in vals:
            if isinstance(v, Table):
                parts.append("\n".join(str(r.asDict()) for r in
                                       v.df.limit(20).collect()))
            else:
                parts.append(str(self._pyval(v)))
        print(" ".join(parts))
        return None

    def _assert_stmt(self):
        self.expect("assert")
        start = self.i
        cond = self.expr()
        if not self._truthy(cond):
            src = " ".join(t.text for t in self.toks[start:self.i])
            raise LangSignal("AssertError", f"Assertion failed: {src}")
        return None

    # ---- insert: `t += expr` (preql.lark:70; evaluate.py:277-287) --
    def _insert_stmt(self):
        name = self.next().text
        self.next()                         # '+='
        val = self.expr()
        if name in self.engine.mutables:
            mt = self.engine.mutables[name]
            src = val.df if isinstance(val, Table) else val
            mt.insert_from(src)
            self.engine._sync_mutable(name)
            return self._make_mutable_ref(name)
        if name in self.env and isinstance(self.env[name], Table) \
                and isinstance(val, Table):
            self.env[name] = self.env[name] + val
            return self.env[name]
        raise LangSignal("TypeError",
                         f"+= left side must be a table name, got {name!r}")

    # ---- DDL: table definitions (evaluate.py:177-185,213-275) ------
    _TYPE_MAP = {"int": "long", "float": "double", "string": "string",
                 "text": "string", "bool": "boolean",
                 "timestamp": "timestamp", "json": "string"}

    def _table_def(self):
        const = bool(self.accept("const"))
        bare = bool(self.accept("bare"))
        if not const:
            const = bool(self.accept("const"))
        self.expect("table")
        name = self.expect("name").text
        self._skip_nl()
        if self.accept("op", "="):
            src = self.expr()
            if not isinstance(src, Table):
                raise LangSignal("TypeError", "table = expr needs a table")
            self.engine.create_table_from(name, src.df, const=const)
            return self._make_mutable_ref(name)
        self.expect("op", "{")
        fields, ellipsis, defaults = [], False, {}
        methods: dict[str, _LangMethod] = {}
        fks: dict[str, tuple[str, str]] = {}
        # (backref name, target table, fk column) — applied post-create
        backref_requests: list[tuple[str, str, str]] = []
        while True:
            self._skip_nl()
            if self.accept("op", "}"):
                break
            if self.peek().kind == "dots" and self.peek().text == "...":
                # partial declaration: `...` merges the remaining
                # columns of the already-existing table
                # (evaluate.py:236-241); must appear last (:220-222)
                self.next()
                ellipsis = True
                self.accept("op", ",")
                self._skip_nl()
                if not self.accept("op", "}"):
                    raise LangSignal("SyntaxError",
                                     "Ellipsis must appear at the end")
                break
            if self.peek().kind == "func":
                # table method `func area() = size * size`
                # (reference test_basic.py:700-744; MethodInstance
                # pql_objects.py:266-274)
                m = self._capture_method()
                methods[m.name] = m
                continue
            cname = self.expect("name").text
            self.expect("op", ":")
            tname = self.expect("name").text
            # `int?` nullable marker (preql.lark type: NAME "?"?) —
            # Spark columns are nullable by default, so this only
            # affects parsing; non-null enforcement is not implemented
            # (the reference enforces it DB-side)
            # FK to a specific column: `x_axis: Point.x`
            # (reference test_basic.py test_foreign_key)
            fk_field = None
            if self.accept("op", "."):
                fk_field = self.expect("name").text
            self.accept("op", "?")
            if fk_field is not None:
                tgt = self.engine.table(tname)
                if fk_field not in tgt.df.columns:
                    raise LangSignal(
                        "TypeError",
                        f"{tname!r} has no column {fk_field!r}")
                spark_t = dict(tgt.df.dtypes)[fk_field]
                fks[cname] = (tname, fk_field)
            else:
                spark_t = self._resolve_type_ddl(tname, selfname=name)
                if spark_t is None:
                    raise LangSignal("TypeError",
                                     f"unknown column type {tname!r}")
                if tname not in self._TYPE_MAP \
                        and not isinstance(self.env.get(tname),
                                           _StructDef):
                    # table-typed column = FK stored as the target's id
                    # (reference t_relation; `parent: Node?` self-FKs
                    # work because the defining table resolves by name)
                    fks[cname] = (tname, "id")
            # backref: `parent: Person? -> children` declares the
            # reverse relation on the TARGET table (reference
            # test_self_reference)
            if self.peek().kind == "op" and self.peek().text == "-" \
                    and self.peek(1).kind == "op" \
                    and self.peek(1).text == ">":
                self.next()
                self.next()
                backref_requests.append(
                    (self.expect("name").text, tname, cname))
            if self.accept("op", "="):
                # column default (test_basic.py:1055-1068): applied by
                # `new` when the column is not supplied
                defaults[cname] = self._pyval(self.expr())
            fields.append(f"{cname} {spark_t}")
            self.accept("op", ",")
        # a table declaration rebinds the name even if an assignment
        # (e.g. `A = null`) shadowed it
        self.env.pop(name, None)
        exists = name in self.engine.mutables or name in self.engine.tables()
        if exists:
            return self._connect_existing(name, fields, ellipsis, bare,
                                          fks=fks, methods=methods,
                                          backref_requests=backref_requests)
        if ellipsis:
            raise LangSignal(
                "TypeError",
                f"table {name!r} does not exist — '...' only merges "
                f"an existing table's columns")
        mt = self.engine.create_table(name, ", ".join(fields), bare=bare)
        mt.defaults = dict(defaults)
        mt.methods = dict(methods)
        mt.fks = dict(fks)
        for bname, tgt, cname in backref_requests:
            holder = mt if tgt == name else self.engine.mutables.get(tgt)
            if holder is not None:
                brs = dict(getattr(holder, "backrefs", {}) or {})
                brs[bname] = (name, cname)
                holder.backrefs = brs
                if holder is not mt:
                    self.engine._sync_mutable(tgt)
        self.engine._sync_mutable(name)    # publish methods/fks to meta
        return self._make_mutable_ref(name)

    def _resolve_type_ddl(self, tname: str,
                          selfname: str | None = None) -> str | None:
        """Spark DDL type for a lang type name: scalar map, declared
        struct (→ struct<...>), or a table name (→ FK id column —
        including a self-reference like `parent: Node?` inside
        `table Node`)."""
        if tname in self._TYPE_MAP:
            return self._TYPE_MAP[tname]
        sd = self.env.get(tname)
        if isinstance(sd, _StructDef):
            inner = ", ".join(f"{n}: {t}" for n, t in sd.fields)
            return f"struct<{inner}>"
        if tname == selfname or tname in self.engine.mutables \
                or tname in self.engine.tables():
            return "long"
        return None

    def _import_stmt(self):
        """``import graph`` (reference module import, examples/tree.pql).
        Built-in modules bind a namespace of native functions; a
        ``<name>.pql`` file in the working directory loads as source
        (the reference resolves modules the same two ways)."""
        import os as _os
        self.expect("import")
        mod = self.expect("name").text
        if mod == "graph":
            self.env["graph"] = _graph_module()
            return None
        path = f"{mod}.pql"
        if _os.path.exists(path):
            with open(path) as f:
                Parser(self.engine, f.read(), self.env).parse()
            return None
        raise LangSignal("ImportError", f"no module {mod!r}")

    def _struct_def(self):
        """``struct Point { x: float, y: float }`` — a named struct
        type usable as a column type and constructed by list coercion
        in ``new`` (reference StructDef, evaluate.py resolve;
        tests/box_circle.pql)."""
        self.expect("struct")
        name = self.expect("name").text
        self._skip_nl()
        self.expect("op", "{")
        fields: list[tuple[str, str]] = []
        while True:
            self._skip_nl()
            if self.accept("op", "}"):
                break
            fname = self.expect("name").text
            self.expect("op", ":")
            tname = self.expect("name").text
            self.accept("op", "?")
            ddl = self._resolve_type_ddl(tname)
            if ddl is None:
                raise LangSignal("TypeError",
                                 f"unknown struct field type {tname!r}")
            fields.append((fname, ddl))
            self.accept("op", ",")
        sd = _StructDef(name, fields)
        self.env[name] = sd
        return sd

    def _capture_method(self) -> "_LangMethod":
        """Capture a table-def method body as its token span — compiled
        lazily per call site with the bound table as context (`this`)."""
        self.expect("func")
        mname = self.expect("name").text
        self.expect("op", "(")
        params = []
        while not self.accept("op", ")"):
            params.append(self.expect("name").text)
            self.accept("op", ",")
        self.expect("op", "=")
        start, depth = self.i, 0
        while True:
            t = self.peek()
            if t.kind == "eof":
                break
            if depth == 0 and (t.kind == "nl"
                               or (t.kind == "op" and t.text == "}")):
                break
            if t.kind == "op" and t.text in "([{":
                depth += 1
            elif t.kind == "op" and t.text in ")]}":
                depth -= 1
            self.next()
        return _LangMethod(mname, params,
                           self.toks[start:self.i] + [Tok("eof", "")])

    def _connect_existing(self, name: str, fields: list[str],
                          ellipsis: bool, bare: bool,
                          fks: dict | None = None,
                          methods: dict | None = None,
                          backref_requests: list | tuple = ()):
        """`table foo {...}` where `foo` already exists: connect to it
        — validate the declared columns against the live schema, merge
        the rest through `...` (reference evaluate.py:232-262; the
        reference also skips the type-compat check).  Connecting never
        rewrites storage.  A mutable table binds DML-capable; an
        external input table (parquet under load_dir) binds read-only —
        documented divergence: Spark does not own external storage, so
        mutating it needs a CTAS copy (`table foo = bar`) first."""
        declared = [f.split(" ", 1)[0] for f in fields]
        cur = self.engine.table(name)
        cur_cols = list(cur.df.columns)
        for c in declared:
            if c not in cur_cols:
                raise LangSignal(
                    "TypeError",
                    f"Column {c!r} defined, but doesn't exist in database.")
        cols = list(declared)
        if ellipsis:
            cols += [c for c in cur_cols if c not in declared]
        elif not bare and "id" in cur_cols and "id" not in cols:
            # auto-add id if present and not declared (evaluate.py:244-248)
            cols = ["id"] + cols
        # a redeclaration may ATTACH relations to the live binding —
        # chinook.pql: `table albums {ArtistId: artists.ArtistId, ...}`
        # adds FK metadata over an already-imported table (reference
        # evaluate.py exists-branch keeps the declared relations)
        self._attach_relations(name, fks, methods, backref_requests)
        if name in self.engine.mutables:
            mt = self.engine.mutables[name]
            mt.declared_view = cols if cols != cur_cols else None
            self.engine._sync_mutable(name)
            return self._make_mutable_ref(name)
        ref = self.engine.table(name)
        ref = ref.project(*cols) if cols != cur_cols else ref
        self.env[name] = ref
        return ref

    def _attach_relations(self, name: str, fks, methods,
                          backref_requests) -> None:
        """Merge declared FKs / methods / backrefs into an existing
        table's metadata (mutable handle or catalog meta)."""
        eng = self.engine
        if name in eng.mutables:
            mt = eng.mutables[name]
            if fks:
                mt.fks = {**(getattr(mt, "fks", {}) or {}), **fks}
            if methods:
                mt.methods = {**(getattr(mt, "methods", {}) or {}),
                              **methods}
        else:
            meta = eng.catalog.get(name)
            if meta is not None:
                if fks:
                    meta.fks = {**(meta.fks or {}), **fks}
                if methods:
                    meta.methods = {**(meta.methods or {}), **methods}
        for bname, tgt, cname in backref_requests or ():
            if tgt in eng.mutables:
                holder = eng.mutables[tgt]
                brs = dict(getattr(holder, "backrefs", {}) or {})
                brs[bname] = (name, cname)
                holder.backrefs = brs
                eng._sync_mutable(tgt)
            elif tgt in eng.catalog:
                tmeta = eng.catalog[tgt]
                tmeta.backrefs = {**(tmeta.backrefs or {}),
                                  bname: (name, cname)}

    def _make_mutable_ref(self, name: str) -> "_MutableRef":
        mt = self.engine.mutables[name]
        # a partial re-declaration (`table foo {col, ...}`) rebinds the
        # name to its declared column view durably (evaluate.py:262
        # new_table select_fields) — stored on the handle
        return _MutableRef(self.engine, mt,
                           view_cols=getattr(mt, "declared_view", None))

    def _func_def(self):
        self.expect("func")
        name = self.expect("name").text
        self.expect("op", "(")
        params = []
        defaults: dict = {}
        while not self.accept("op", ")"):
            t = self.peek()
            if t.kind == "dots" and t.text == "...":
                # `...x` variadic keyword collector (preql.lark:52;
                # match_params pql_objects.py:110-212): leftover
                # keyword arguments bind to x as a row-like dict
                self.next()
                params.append("..." + self.expect("name").text)
                self.accept("op", ",")
                continue
            if t.kind not in ("name", "sname"):
                raise SyntaxError(f"bad parameter {t.text!r}")
            # `$x` params are lazy: they bind the call-site token span
            # unevaluated (reference evaluate.py:597)
            pname = self.next().text
            params.append(pname)
            # optional type annotation `edges: table`, `ids: list[int]`
            # (reference param_type, preql.lark:50) — accepted, not
            # enforced (Spark resolves types structurally)
            if self.accept("op", ":"):
                # type names may be keywords (`table`, `struct`)
                if self.peek().kind in ("name", "table", "struct"):
                    self.next()
                else:
                    raise SyntaxError(
                        f"bad parameter type {self.peek().text!r}")
                if self.accept("op", "["):
                    self.expect("name")
                    self.expect("op", "]")
                self.accept("op", "?")
            # default value `b=4` (reference test_keywords)
            if self.accept("op", "="):
                defaults[pname] = self._pyval(self.expr())
            self.accept("op", ",")
        if self.accept("op", "="):
            # short form: capture the expression span (to the next
            # top-level ';'/newline or eof); it re-parses per call with
            # parameters bound — true compile-time inlining, no UDF
            start, depth = self.i, 0
            while True:
                t = self.peek()
                if t.kind == "eof" or (depth == 0 and (
                        t.kind == "nl"
                        or (t.kind == "op" and t.text == ";"))):
                    break
                if t.kind == "op" and t.text in "([{":
                    depth += 1
                elif t.kind == "op" and t.text in ")]}":
                    depth -= 1
                self.next()
            fn = _UserFunc(name, params,
                           self.toks[start:self.i] + [Tok("eof", "")],
                           defaults=defaults)
        else:
            # block form: `func f(x) { stmts }` with `return`
            # (preql.lark:53-54; ReturnSignal evaluate.py:421-424)
            body = self._capture_block()
            fn = _UserFunc(name, params, body, block=True,
                           defaults=defaults)
        self.env[name] = fn
        return fn

    # ---- expression ladder (precedence per preql.lark) -------------
    def expr(self):
        return self.or_expr()

    def or_expr(self):
        v = self.and_expr()
        while self.accept("or"):
            r = self.and_expr()
            if isinstance(v, Table) and isinstance(r, Table):
                # table truthiness is non-emptiness: `[1] or [2]`
                # keeps the first non-empty operand (reference
                # test_logical, test_basic.py:240).  The emptiness
                # probe is a bounded limit-1 job, like `one`.
                v = v if not v.df.isEmpty() else r
                continue
            v = exprs.por(self._col(v), self._col(r))
        return v

    def and_expr(self):
        v = self.not_expr()
        while self.accept("and"):
            r = self.not_expr()
            if isinstance(v, Table) and isinstance(r, Table):
                # `[1] and [2]` yields the last operand when the
                # first is non-empty, else the (empty) first
                v = r if not v.df.isEmpty() else v
                continue
            v = exprs.pand(self._col(v), self._col(r))
        return v

    def not_expr(self):
        if self.accept("not"):
            v = self.not_expr()
            if isinstance(v, Table):
                # table truthiness is non-emptiness (reference
                # examples/primes.pql `if (not primes)`)
                return v.df.isEmpty()
            return exprs.pnot(self._col(v))
        return self.comparison()

    def comparison(self):
        v = self.additive()
        while True:
            t = self.peek()
            if (t.kind == "op"
                    and t.text in ("==", "!=", "<", ">", "<=", ">=", "~")) \
                    or t.kind == "like":
                # `like` keyword is the tutorial spelling of `~`
                # (docs/tutorial.md "name like \"%l%\"")
                if t.kind == "like":
                    t = Tok("op", "~")
                self.next()
                r = self.additive()
                # literal type discipline (reference test_compare):
                # int/str literals are never equal across kernels, and
                # ordering across kernels is a TypeError; a scalar
                # cannot compare to a table
                kv, kr = _literal_kernel(v), _literal_kernel(r)
                if kv and kr and kv != kr:
                    if t.text in ("==", "!="):
                        v = t.text == "!="
                        continue
                    if t.text != "~":
                        raise LangSignal(
                            "TypeError",
                            f"cannot compare {kv} to {kr}")
                if (isinstance(v, Table)) != (isinstance(r, Table)) \
                        and t.text in ("==", "!="):
                    raise LangSignal(
                        "TypeError", "cannot compare a value to a table")
                if isinstance(v, (_TypeRef, _FuncRef)) \
                        or isinstance(r, (_TypeRef, _FuncRef)):
                    # first-class type/function values compare by name
                    # at the driver (`type(10/3) == float`,
                    # reference test_basic.py:85)
                    if t.text in ("==", "!="):
                        # compare by name: a bare type name (`float`)
                        # resolves to its cast _FuncRef, which IS the
                        # type value in the reference's model
                        same = (getattr(v, "name", object())
                                == getattr(r, "name", object()))
                        v = same if t.text == "==" else not same
                        continue
                    if t.text in ("<=", ">=", "<", ">"):
                        # scalar subtype lattice (reference
                        # pql_types.py issubclass, test_basic.py:1623
                        # `T.int <= T.number`); union/struct type
                        # constructors are reference-internal API —
                        # Catalyst owns composite typing here
                        nv = getattr(v, "name", None)
                        nr = getattr(r, "name", None)
                        if nv not in _TYPE_ANCESTORS \
                                or nr not in _TYPE_ANCESTORS:
                            # `int <= 3` is a type error in the
                            # reference, not a silent False
                            raise LangSignal(
                                "TypeError",
                                f"cannot order-compare type "
                                f"{nv or type(v).__name__} with "
                                f"{nr or type(r).__name__}")
                        le = nr in _TYPE_ANCESTORS.get(nv, {nv})
                        ge = nv in _TYPE_ANCESTORS.get(nr, {nr})
                        v = {"<=": le, ">=": ge,
                             "<": le and nv != nr,
                             ">": ge and nv != nr}[t.text]
                        continue
                    raise LangSignal(
                        "TypeError", "types support only ==/!=/<=/>=")
                a, b = self._col(v), r if isinstance(r, (int, float, str)) else self._col(r)
                if t.text == "~" and not isinstance(b, (str, Column)):
                    # reference: `~` is string LIKE; a numeric pattern
                    # is a TypeError signal, not a JVM Py4J crash
                    raise LangSignal(
                        "TypeError", f"~ expects a string pattern, "
                        f"got {type(b).__name__}")
                v = {"==": lambda: exprs.eq(a, b),
                     "!=": lambda: exprs.ne(a, b),
                     "<": lambda: a < b, ">": lambda: a > b,
                     "<=": lambda: a <= b, ">=": lambda: a >= b,
                     "~": lambda: a.like(b)}[t.text]()
            elif t.kind in ("in", "op") and (t.kind == "in" or t.text == "!in"):
                negate = t.text == "!in"
                self.next()
                r = self.additive()
                if isinstance(v, Table):
                    # reference: `[1] in [2]` is a TypeError — lists
                    # are not members; use a semi-join for that
                    raise LangSignal(
                        "TypeError", "a table cannot be a member; "
                        "use in_table (semi-join)")
                if isinstance(r, Table):
                    if isinstance(v, (Column, _BackrefRef)):
                        # vector LHS: keep the membership SYMBOLIC so
                        # the enclosing selection lowers it to a
                        # LeftSemi/LeftAnti join (no driver collect,
                        # no size bound — reference Contains emits
                        # `IN (SELECT ...)`, sql.py:319-329)
                        v = _SemiPred(self._col(v), r, negate)
                        continue
                    # scalar LHS: literal membership — the RHS
                    # materializes to the driver, so bound it
                    vals = [row[0] for row in r.df.limit(100_001).collect()]
                    if len(vals) > 100_000:
                        raise ValueError(
                            "`in <table>` RHS exceeds 100k rows; use "
                            "a selection (semi-join) for table-scale "
                            "membership")
                    r = vals
                if isinstance(r, str):
                    # string-in-string is a substring test
                    # (compile_binops.py:147-152 str_contains)
                    v = F.lit(r).contains(self._col(v)) if not negate \
                        else ~F.lit(r).contains(self._col(v))
                else:
                    v = self._col(v).isin(r) if not negate \
                        else ~self._col(v).isin(r)
            else:
                return v

    def additive(self):
        v = self.mult()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("+", "-"):
                self.next()
                r = self.mult()
                if isinstance(v, Table) and isinstance(r, Table):
                    v = (v + r) if t.text == "+" else (v - r)
                elif t.text == "+" and (self._is_stringy(v)
                                        or self._is_stringy(r)):
                    # string + string → concat (compile_binops.py:246-249)
                    v = F.concat(self._col(v), self._col(r))
                else:
                    a, b = self._col(v), self._col(r)
                    v = a + b if t.text == "+" else a - b
            elif t.kind == "op" and t.text in ("|", "&"):
                self.next()
                r = self.mult()
                v = (v | r) if t.text == "|" else (v & r)
            else:
                return v

    def mult(self):
        v = self.power()
        while True:
            t = self.peek()
            if t.kind == "op" and t.text in ("*", "/", "/~", "%"):
                self.next()
                r = self.power()
                if t.text == "*" and self._is_stringy(v):
                    # string * n → repeat (compile_binops.py:204-207)
                    v = F.repeat(self._col(v),
                                 r if isinstance(r, int) else self._col(r))
                    continue
                a = self._col(v)
                v = {"*": lambda: a * r if isinstance(r, (int, float)) else a * self._col(r),
                     "/": lambda: exprs.fdiv(a, self._col(r)),
                     "/~": lambda: exprs.idiv(a, self._col(r)),
                     "%": lambda: a % self._col(r)}[t.text]()
            else:
                return v

    def power(self):
        """``a ** b`` → power() (compile_binops.py:241-243); binds
        tighter than * and is right-associative like the reference."""
        v = self.unary()
        if self.peek().kind == "op" and self.peek().text == "**":
            self.next()
            r = self.power()
            return F.pow(self._col(v), r if isinstance(r, (int, float))
                         else self._col(r))
        return v

    def unary(self):
        if self.accept("op", "-"):
            v = self.unary()
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return -v               # literal stays a Python scalar
            return -self._col(v)
        return self.postfix()

    # ---- postfix chains: t[...] t{...} t order {...} ---------------
    def postfix(self):
        v = self.atom()
        while True:
            t = self.peek()
            if isinstance(v, list) and t.kind == "op" \
                    and t.text in ("{", "["):
                # a localized Python list (e.g. from list(...)) lifts
                # back to a table when projected/filtered — lists ARE
                # tables in the reference (test_casts chains
                # list(list([1,2]{item+1}){item+1}))
                v = self.engine.list_(v)
            if t.kind == "update" and isinstance(v, Table):
                self.next()
                v = self._update_postfix(v)
            elif t.kind == "delete" and isinstance(v, Table):
                self.next()
                v = self._delete_postfix(v)
            elif t.kind == "op" and t.text == "[" \
                    and isinstance(v, _MutableRef) \
                    and not (self.peek(1).kind in ("int", "dots")):
                # selection on a mutable ref keeps the conditions so a
                # following update/delete can target storage
                self.next()
                conds = []
                prev_table, self.table = self.table, v
                aug = None
                try:
                    while True:
                        self._skip_nl()
                        if self.accept("op", "]"):
                            break
                        conds.append(self._col(self.expr()))
                        self.accept("op", ",")
                    if self.table is not v:
                        aug = self.table
                finally:
                    self.table = prev_table
                if aug is not None:
                    # FK traversal in the condition joined helper
                    # columns: filter the augmented frame, original
                    # schema out (read-only — storage-targeting DML
                    # needs storage-resolvable conditions)
                    v = aug.filter(*conds).project(*v.df.columns)
                else:
                    v = v.with_conds(conds)
            elif t.kind == "op" and t.text == "[" \
                    and isinstance(v, _OpenRange):
                # slicing bounds an unbounded series
                self.next()
                save = self.i
                first = 0
                if self.peek().kind == "int":
                    first = int(self.next().text)
                if not self.accept("dots", ".."):
                    self.i = save
                    raise LangSignal(
                        "NotImplementedError",
                        "an unbounded series supports only slicing")
                stop = None
                if self.peek().kind == "int":
                    stop = int(self.next().text)
                self.expect("op", "]")
                v = v.slice(first, stop)
            elif t.kind == "op" and t.text == "[" \
                    and isinstance(v, _FuncRef) and v.name == "list":
                # `list[int](x)` parametrized cast (test_casts,
                # test_basic.py:599-603)
                self.next()
                ty = self.expr()
                self.expect("op", "]")
                v = _ListCastRef(_as_type_name(ty))
            elif t.kind == "op" and t.text == "[" and isinstance(v, Table):
                self.next()
                v = self._selection_or_slice(v)
            elif t.kind == "op" and t.text == "[" \
                    and (isinstance(v, str) or isinstance(v, Column)):
                # string index / slice (compiler.py:555-597,
                # sql.StringSlice sql.py:896-926) — 0-based
                self.next()
                v = self._string_slice(v)
            elif t.kind == "op" and t.text == "{" and isinstance(v, Table):
                self.next()
                v = self._projection(v)
            elif t.kind == "op" and t.text == "{" and isinstance(v, Column):
                # struct inline `s {...}` / `s {... !a}` inside a
                # projection (from_struct ellipsis, compiler.py:104-112)
                save = self.i
                self.next()
                self._skip_nl()
                if self.peek().kind == "dots" \
                        and self.peek().text == "...":
                    self.next()
                    excl = []
                    while self.accept("op", "!"):
                        excl.append(self.expect("name").text)
                    self._skip_nl()
                    self.expect("op", "}")
                    v = _StructInline(v, excl)
                else:
                    self.i = save
                    return v
            elif t.kind == "order" and isinstance(v, Table):
                self.next()
                self.expect("op", "{")
                v = self._order(v)
            elif t.kind == "op" and t.text == ".":
                self.next()
                name = self.expect("name").text
                v = self._attr(v, name)
            elif t.kind == "op" and t.text == "(":
                self.next()
                v = self._call(v)
            else:
                return v

    def _update_postfix(self, v: Table):
        """``t[conds] update {name: expr, ...}`` (preql.lark:84;
        evaluate.py:756-806).  Requires a persistent (mutable) table;
        returns the fresh post-update view."""
        if not isinstance(v, _MutableRef):
            raise LangSignal("ValueError",
                             "Cannot update: Table is not persistent")
        self.expect("op", "{")
        sets = {}
        prev_table, self.table = self.table, v
        try:
            while True:
                self._skip_nl()
                if self.accept("op", "}"):
                    break
                name = self.expect("name").text
                self.expect("op", ":")
                sets[name] = self._col(self.expr())
                self.accept("op", ",")
        finally:
            self.table = prev_table
        if not set(sets) <= set(v.base_df.columns):
            raise LangSignal(
                "TypeError", "Update error: Not all keys exist in table")
        v.apply_update(sets)
        return self._make_mutable_ref(v.handle.name)

    def _delete_postfix(self, v: Table):
        """``t delete [conds]`` (preql.lark:85; evaluate.py:713-755).
        Returns the table without the deleted rows."""
        if not isinstance(v, _MutableRef):
            raise LangSignal("ValueError",
                             "Cannot delete: Table is not persistent")
        self.expect("op", "[")
        conds = []
        prev_table, self.table = self.table, v
        try:
            while True:
                self._skip_nl()
                if self.accept("op", "]"):
                    break
                conds.append(self._col(self.expr()))
                self.accept("op", ",")
        finally:
            self.table = prev_table
        v.apply_delete(conds)
        return self._make_mutable_ref(v.handle.name)

    def _string_slice(self, v):
        from preql_spark.functions import scalar as s
        first = None
        if self.peek().kind == "int":
            first = int(self.next().text)
        if self.accept("dots", ".."):
            stop = None
            if self.peek().kind == "int":
                stop = int(self.next().text)
            self.expect("op", "]")
            return s.str_slice(self._col(v), first or 0, stop)
        self.expect("op", "]")
        if first is None:
            raise SyntaxError("expected index or slice")
        return s.str_slice(self._col(v), first, first + 1)

    def _selection_or_slice(self, tab: Table):
        # peek for `a..b` slice
        save = self.i
        first = None
        if self.peek().kind == "int":
            first = int(self.next().text)
            if self.accept("dots", ".."):
                stop = None
                if self.peek().kind == "int":
                    stop = int(self.next().text)
                self.expect("op", "]")
                return tab.slice(first, stop)
            self.i = save
        if self.accept("dots", ".."):
            stop = int(self.expect("int").text)
            self.expect("op", "]")
            return tab.slice(0, stop)
        # conditions, comma-separated, ANDed
        conds = []
        prev_table, self.table = self.table, tab
        try:
            while True:
                self._skip_nl()
                if self.accept("op", "]"):
                    break
                e = self.expr()
                conds.append(e if isinstance(e, _SemiPred)
                             else self._col(e))
                self.accept("op", ",")
            if self.table is not tab:
                # FK traversal in a condition joined helper columns —
                # filter on the augmented frame, keep the original
                # schema (`_MutableRef` DML still binds via tab)
                return _apply_conds(self.table, conds).project(
                    *tab.df.columns)
        finally:
            self.table = prev_table
        return _apply_conds(tab, conds)

    def _projection(self, tab: Table):
        prev_table, self.table = self.table, tab
        try:
            entries = self._proj_items()
            if self.accept("op", "=>"):
                self.in_agg = True
                try:
                    agg_entries = self._proj_items()
                finally:
                    self.in_agg = False
                self.expect("op", "}")
                _check_dup_names(entries, agg_entries)
                by: dict = {}
                for e in entries:
                    if isinstance(e, str):
                        by[e] = F.col(e)
                    elif isinstance(e, tuple):
                        by[e[0]] = e[1]
                    else:
                        raise SyntaxError("ellipsis not allowed in group keys")
                agg_kv: dict = {}
                for e in agg_entries:
                    if isinstance(e, str):
                        self._agg_seen = False
                        agg_kv[e] = self._agg_col(F.col(e))
                    elif isinstance(e, tuple):
                        agg_kv[e[0]] = e[1]
                    else:
                        raise SyntaxError("ellipsis not allowed in aggregates")
                # self.table, not tab: FK/backref traversal inside the
                # entries may have joined helper tables onto the context
                return self.table.group(by, **agg_kv)
            self.expect("op", "}")
            # struct spreads expand FIRST so their fields participate
            # in collision auto-suffixing ({...a, ...b} → item, item1)
            final: list = []
            for e in entries:
                if isinstance(e, _StructInline):
                    final.extend((_AutoName(n), c)
                                 for n, c in e.expand(tab))
                else:
                    final.append(e)
            _check_dup_names(final)
            try:
                # self.table, not tab: see the grouped branch above
                return self.table.project(*final)
            except NameError as e:       # bad `!field` exclusion
                raise LangSignal("NameError", str(e)) from None
            except TypeError as e:       # empty projection
                raise LangSignal("TypeError", str(e)) from None
        finally:
            self.table = prev_table

    def _proj_items(self):
        """Ordered projection entries (reference proj_exprs →
        _expand_ellipsis, compiler.py:46-128): strings for bare column
        refs, ``(name, Column)`` tuples for named/computed fields
        (position preserved), Ellipsis / Exclude splice markers, and
        _StructInline for ``structcol {...}``."""
        from preql_spark.table import exclude
        entries: list = []
        while True:
            self._skip_nl()
            t = self.peek()
            if t.kind == "op" and t.text in ("}",) or t.kind == "eof":
                break
            if t.kind == "op" and t.text == "=>":
                break
            if self.accept("dots", "..."):
                if self.peek().kind == "name":
                    # `...structcol` — spread a struct column's fields
                    # inline (reference from_struct, compiler.py:104-112;
                    # test_basic.py:1084-1091), with the same collision
                    # auto-suffix as plain projection entries and
                    # optional `!field` exclusions (chinook.pql
                    # `...t !GenreId !AlbumId !TrackId`)
                    v = self.expr()
                    excl = []
                    while self.accept("op", "!"):
                        excl.append(self.expect("name").text)
                    entries.append(_StructInline(self._col(v), excl))
                    self.accept("op", ",")
                    continue
                # optional exclusions: ... !name !name
                excl = []
                while self.accept("op", "!"):
                    excl.append(self.expect("name").text)
                entries.append(exclude(*excl) if excl else Ellipsis)
                self.accept("op", ",")
                continue
            # NAME ':' expr → named (keeps its position in the output)
            if t.kind == "name" and self.peek(1).kind == "op" \
                    and self.peek(1).text == ":":
                name = self.next().text
                self.next()
                if self.peek().kind == "dots":
                    # reference compiler.py:87-89
                    raise SyntaxError(
                        "Cannot use a name for ellipsis "
                        "(inlining operation doesn't accept a name)")
                self._agg_seen = False
                entries.append((name, self._agg_col(self.expr())))
            else:
                span_start = self.i
                self._agg_seen = False
                v = self.expr()
                sug = _AutoName(self._suggest_name(
                    self.toks[span_start:self.i]))
                if isinstance(v, _StructInline):
                    entries.append(v)
                elif isinstance(v, Column):
                    # bare column keeps its own name when trivially a
                    # column reference; else the guessed name
                    # (compiler.py:132-148 guess_field_name).  FK /
                    # backref traversal helpers are private — their
                    # entries auto-name by the traversed field
                    # (`country.language` → language)
                    cname = _plain_col_name(v)
                    if cname is not None \
                            and cname.startswith(("__fk_", "__br_")):
                        entries.append(
                            (_AutoName(cname.rsplit("__", 1)[-1]),
                             self._agg_col(v)))
                    elif cname is not None and not self.in_agg:
                        entries.append(_AutoName(cname))
                    else:
                        entries.append((_AutoName(cname) if cname else sug,
                                        self._agg_col(v)))
                else:
                    entries.append((sug, self._agg_col(v)))
            if not self.accept("op", ",") \
                    and self.peek().kind != "nl":
                # entries separate on commas OR newlines (reference
                # grammar; examples/matrices.pql projections)
                break
        return entries

    @staticmethod
    def _suggest_name(span) -> str:
        """Guessed field name for an anonymous projection entry from
        its source tokens — reference guess_field_name
        (compiler.py:132-148): attribute chains use the last attribute,
        function calls the function name, everything else '_'."""
        toks = [t for t in span if t.kind != "nl"]
        if len(toks) >= 2 and toks[-2].kind == "op" \
                and toks[-2].text == "." and toks[-1].kind == "name":
            return toks[-1].text
        if toks and toks[0].kind == "name" and len(toks) >= 2 \
                and toks[1].kind == "op" and toks[1].text in ("(", "."):
            return toks[0].text
        return "_"

    def _agg_col(self, v):
        """On the agg side of ``=>``, a bare (non-aggregate) column
        becomes collect_list — reference MakeArray (compiler.py:59-63).
        A COMPUTED entry with no aggregate inside (``{ => sign(item)}``,
        test_basic.py test_vectorized_logic) collects the same way —
        ``_agg_seen`` is reset per entry and set by the aggregate
        builtins."""
        col = self._col(v)
        if self.in_agg and not self._agg_seen \
                and isinstance(v, (Column, str)) \
                and not _is_literal_col(col):
            return F.collect_list(col)
        return col

    def _order(self, tab: Table):
        keys = []
        prev_table, self.table = self.table, tab
        try:
            while True:
                self._skip_nl()
                if self.accept("op", "}"):
                    break
                if self.accept("op", "^"):
                    keys.append(desc_marker(self._col(self.expr())))
                else:
                    keys.append(self._col(self.expr()))
                self.accept("op", ",")
        finally:
            self.table = prev_table
        return tab.order(*keys)

    # ---- atoms -----------------------------------------------------
    def atom(self):
        self._skip_nl()
        t = self.next()
        if t.kind == "new":
            return self._new_expr()
        if t.kind == "one":
            # ``one [?] molecule`` (preql.lark:130) — exactly-one-row
            # assertion returning a Row; ``one?`` allows 0 rows → None
            nullable = self.accept("op", "?") is not None
            v = self.postfix()
            from pyspark.sql import Row
            if isinstance(v, Row):
                # `one one t{col}` — one applied to a single-column
                # row unwraps to the scalar (test_basic.py:1272)
                vals = list(v)
                if len(vals) != 1:
                    raise ValueError("one on a row needs exactly 1 column")
                return vals[0]
            if not isinstance(v, Table):
                raise TypeError("one expects a table")
            return v.one(nullable=nullable)
        if t.kind == "if":
            # vectorized ``if (cond) a else b`` → CASE
            # (ast.If in vector context, compiler.py:172-181)
            self.expect("op", "(")
            cond = self._col(self.expr())
            self.expect("op", ")")
            then = self.expr()
            self._skip_nl()
            self.expect("else")
            other = self.expr()
            return exprs.if_else(cond, self._col(then), self._col(other))
        if t.kind == "int":
            return int(t.text)
        if t.kind == "float":
            return float(t.text)
        if t.kind == "string":
            # triple-quoted forms strip three quotes (language.md:
            # 'a' "a" '''a''' \"\"\"a\"\"\"); single-quoted forms
            # process \n \t \\ \" escapes (reference Lark string
            # unescape; test_basic.py test_text)
            if t.text[:3] in ("'''", '"""'):
                return t.text[3:-3]
            return _unescape(t.text[1:-1])
        if t.kind == "null":
            return F.lit(None)
        if t.kind in ("true", "false"):
            return F.lit(t.kind == "true")
        if t.kind == "op" and t.text == "(":
            v = self.expr()
            self.expect("op", ")")
            return v
        if t.kind == "op" and t.text == "[":
            return self._list_or_range()
        if t.kind == "op" and t.text == "{":
            # on-the-fly struct literal `{x: 1, y: item}`
            # (language.md "Structs can be created on the fly")
            fields = []
            while True:
                self._skip_nl()
                if self.accept("op", "}"):
                    break
                if self.peek().kind == "name" \
                        and self.peek(1).kind == "op" \
                        and self.peek(1).text == ":":
                    fname = self.next().text
                    self.next()
                    fields.append(self._col(self.expr()).alias(fname))
                else:
                    # bare-entry shorthand `{item}` / `{a.item}` —
                    # auto-named like a projection entry
                    # (test_basic.py test_nested2 `[1] {a:{b:{item}}}`)
                    span_start = self.i
                    v = self.expr()
                    fname = _plain_col_name(self._col(v)) \
                        or self._suggest_name(self.toks[span_start:self.i])
                    fields.append(self._col(v).alias(fname))
                self.accept("op", ",")
            if not fields:
                raise LangSignal("TypeError", "empty struct literal")
            return F.struct(*fields)
        if t.kind == "name":
            return self._name(t.text)
        if t.kind == "sname":
            # `$x` — SPECIAL_NAME (preql.lark:188); in expression
            # position it resolves like any env name (a bound lazy
            # parameter evaluates here, in the current context)
            return self._name(t.text)
        if t.kind == "table":
            # `table` in expression position is the type value
            # (isa(x, table), issubclass(list, table))
            return _TypeRef("table")
        raise SyntaxError(f"unexpected token {t.text!r}")

    def _list_or_range(self):
        # [a..b] range | [..b] | [a..] open series | [x, y, z] list
        if self.peek().kind == "dots" and self.peek().text == "..":
            # [..b] == [0..b] (test_basic.py:625-631)
            self.next()
            b = int(self.expect("int").text)
            self.expect("op", "]")
            return self.engine.range(0, b)
        neg = (self.peek().kind == "op" and self.peek().text == "-"
               and self.peek(1).kind == "int"
               and self.peek(2).kind == "dots"
               and self.peek(2).text == "..")
        if neg or (self.peek().kind == "int"
                   and self.peek(1).kind == "dots"
                   and self.peek(1).text == ".."):
            if neg:
                self.next()
            a = int(self.next().text)
            if neg:
                a = -a
            self.next()
            if self.accept("op", "]"):
                # [a..] — unbounded series; stays symbolic until a
                # slice bounds it (reference compiles an infinite
                # recursive CTE and pushes LIMIT; engines that can't
                # raise NotImplementedError — test_basic.py:637-641)
                return _OpenRange(self.engine, a)
            bneg = bool(self.accept("op", "-"))
            b = int(self.expect("int").text)
            if bneg:
                b = -b
            self.expect("op", "]")
            # reference semantics: [1..3] == [1, 2] (stop-exclusive,
            # tests/test_basic.py:631-638)
            return self.engine.range(a, b)
        self._skip_nl()
        if self.peek().kind == "op" and self.peek().text == "{":
            return self._dict_rows()
        vals = []
        while True:
            self._skip_nl()
            if self.accept("op", "]"):
                break
            v = self.expr()            # full expressions: [-20, 1+2]
            vals.append(v)
            self.accept("op", ",")
        # element types must share a kernel type — reference raises
        # TypeError on ["a", 1] (test_basic.py:881)
        kinds = {("str" if isinstance(v, str)
                  else "num" if isinstance(v, (bool, int, float))
                  else type(v).__name__)
                 for v in vals if v is not None
                 and not (isinstance(v, Column))}
        if len(kinds) > 1:
            raise LangSignal(
                "TypeError",
                f"list elements must share a type, got {sorted(kinds)}")
        # localize Column-valued elements (`[true, false]` — the
        # true/false keywords parse to lit Columns) so createDataFrame
        # can infer the element type
        vals = [self._pyval(v) if isinstance(v, Column) else v
                for v in vals]
        return self.engine.list_(vals)

    def _dict_rows(self):
        """``[{a: 1, b: 2} {a: 10, b: 20}]`` — dict-row table literal
        (reference test_basic.py test_table_def_dicts; rows separated
        by newlines or commas, keys must agree)."""
        rows: list[dict] = []
        while True:
            self._skip_nl()
            if self.accept("op", "]"):
                break
            self.expect("op", "{")
            row: dict = {}
            while True:
                self._skip_nl()
                if self.accept("op", "}"):
                    break
                k = self.expect("name").text
                self.expect("op", ":")
                row[k] = self._pyval(self.expr())
                self.accept("op", ",")
            if rows and set(row) != set(rows[0]):
                raise LangSignal(
                    "TypeError",
                    "dict rows must share the same keys")
            rows.append(row)
            self.accept("op", ",")
        if not rows:
            raise LangSignal("TypeError", "empty dict-row literal")
        return self.engine.rows(rows)

    def _new_expr(self):
        """``new Table(args)`` row insert returning the new Row with
        its generated id (evaluate.py:884-947), ``new[] Table(expr)``
        bulk insert (evaluate.py:809-847), and ``new ExcType(msg)``
        signal construction.  Argument values are frozen (localized)
        before the insert — reference freeze(), evaluate.py:875-881 and
        test_new_freezes_values."""
        arr = False
        if self.peek().kind == "op" and self.peek().text == "[" \
                and self.peek(1).kind == "op" and self.peek(1).text == "]":
            self.next()
            self.next()
            arr = True
        tname = self.expect("name").text
        self.expect("op", "(")
        args, kwargs = [], {}
        while True:
            self._skip_nl()
            if self.accept("op", ")"):
                break
            if self.peek().kind == "name" and self.peek(1).kind == "op" \
                    and self.peek(1).text == ":":
                k = self.next().text
                self.next()
                kwargs[k] = self.expr()
            else:
                args.append(self.expr())
            self.accept("op", ",")
        if tname in _EXC_TYPES and not arr:
            msg = args[0] if args else ""
            return LangSignal(tname, str(self._pyval(msg)))
        if tname not in self.engine.mutables:
            raise LangSignal(
                "TypeError",
                f"'new' expects a table or exception, got {tname!r}")
        mt = self.engine.mutables[tname]
        if arr:
            src = args[0]
            if isinstance(src, Table):
                mt.insert_from(src.df)
                self.engine._sync_mutable(tname)
                return self._make_mutable_ref(tname)
            raise LangSignal("TypeError", "new[] expects a table argument")
        data_cols = [c for c in mt.df().columns if c != mt.id_col]
        if len(args) > len(data_cols):
            raise LangSignal("TypeError",
                             f"new {tname}: too many arguments")
        values = {c: self._pyval(a) for c, a in zip(data_cols, args)}
        for k, v in kwargs.items():
            if k not in data_cols:
                raise LangSignal("TypeError",
                                 f"new {tname}: no column {k!r}")
            values[k] = self._pyval(v)
        # declared column defaults fill unsupplied columns
        # (test_basic.py:1055-1068)
        for c, dv in getattr(mt, "defaults", {}).items():
            values.setdefault(c, dv)
        # declared-type coercion: lists → structs (box_circle.pql
        # `new Box([1,1],[10,10])`), rows → FK ids, ISO strings →
        # timestamps (test_basic.py:1527-1540)
        schema = {f.name: f.dataType for f in mt.df().schema.fields}
        values = {c: _coerce_new_value(schema.get(c), v)
                  for c, v in values.items()}
        row = mt.new(**values)
        self.engine._sync_mutable(tname)
        return row

    def _invoke_method(self, bm: "_BoundMethod", args, kwargs):
        """Inline a table method at its call site: body compiled with
        the bound table as the name-resolution context, `this` bound to
        it, and parameters bound to the arguments.  Sibling methods
        resolve naturally because the context table carries them."""
        m = bm.method
        if len(args) > len(m.params):
            raise LangSignal("TypeError",
                             f"{m.name}(): too many arguments")
        sub = Parser(self.engine, "", dict(self.env))
        sub.toks = m.toks
        sub.i = 0
        sub.table = bm.table
        sub.in_agg = self.in_agg
        for p, a in zip(m.params, args):
            sub.env[p] = a
        for k, v in kwargs.items():
            if k not in m.params:
                raise LangSignal("TypeError",
                                 f"{m.name}(): no parameter {k!r}")
            sub.env[k] = v
        sub.env["this"] = bm.table
        try:
            v = sub.expr()
            sub.expect("eof")
            return v
        finally:
            self._agg_seen = self._agg_seen or sub._agg_seen

    def _fk_field(self, colname: str, field: str) -> Column:
        """Follow an FK column to a field of its target table: left
        join the target (columns privately prefixed) onto the context
        table, once per FK — repeated traversals reuse the join.
        The helper columns never leak: projections list explicit
        outputs, ellipsis skips the private prefix, and selections
        re-project the original schema."""
        tgt_name, tgt_key = self.table.meta.fks[colname]
        tgt = self.engine.table(tgt_name)
        if field not in tgt.df.columns:
            raise AttributeError(
                f"table {tgt_name!r} has no column {field!r}")
        prefix = f"__fk_{colname}__"
        if prefix + field not in self.table.df.columns:
            renamed = tgt.df.select(
                [tgt.df[c].alias(prefix + c) for c in tgt.df.columns])
            joined = self.table.df.join(
                renamed,
                self.table.df[colname] == renamed[prefix + tgt_key],
                "left")
            aug = self.table._with(joined)
            # the target's own FKs ride along under the prefix so
            # traversal chains: orders.o_custkey.c_nationkey.n_name
            aug.meta.fks = {**aug.meta.fks,
                            **{prefix + c: rel
                               for c, rel in (tgt.meta.fks or {}).items()}}
            self.table = aug
        return self.table.df[prefix + field]

    def _backref(self, name: str) -> "_BackrefRef":
        """Reverse relation (`parent: Person? -> children`): left join
        the source table onto the context table by the FK, privately
        prefixed; `count(children)` counts matching rows,
        `children.field` reads their fields (array-valued under an
        aggregation arrow)."""
        src_name, fk_col = self.table.meta.backrefs[name]
        src = self.engine.table(src_name)
        prefix = f"__br_{name}__"
        pk = self.table.meta.pk or "id"
        if not any(c.startswith(prefix) for c in self.table.df.columns):
            renamed = src.df.select(
                [src.df[c].alias(prefix + c) for c in src.df.columns])
            joined = self.table.df.join(
                renamed, self.table.df[pk] == renamed[prefix + fk_col],
                "left")
            aug = self.table._with(joined)
            # the source's own FKs ride along under the prefix so the
            # traversal CHAINS THROUGH the junction table — the m2m
            # pattern the reference declares but disables
            # (test_basic.py test_m2m "Not ready yet"):
            # `A {a: item, b: ab.b.item}` backrefs into A_B then
            # follows its b FK into B, left joins end-to-end
            aug.meta.fks = {**aug.meta.fks,
                            **{prefix + c: rel
                               for c, rel in (src.meta.fks or {}).items()}}
            self.table = aug
        return _BackrefRef(name, prefix, src, self.table)

    def _name(self, name: str):
        # resolution order: current-table column → env → mutable table
        # → catalog table → builtin function name (marker for _call)
        if self.table is not None and name in self.table.df.columns:
            return self.table.df[name]
        if self.table is not None and name in (self.table.meta.backrefs
                                               or {}):
            return self._backref(name)
        if self.table is not None and self.table.meta.methods \
                and name in self.table.meta.methods:
            m = self.table.meta.methods[name]
            if isinstance(m, _LangMethod):
                return _BoundMethod(m, self.table)
            return m(self.table)
        if name in self.env:
            v = self.env[name]
            # lazy $param: compile the captured call-site expression
            # here, in the context where the body references it
            if isinstance(v, _LazySpan):
                return self._eval_lazy(v)
            return v
        if name in self.engine.mutables:
            return self._make_mutable_ref(name)
        if name in self.engine.tables():
            return self.engine.table(name)
        if name in _FUNCTIONS or name in _TABLE_FUNCS:
            return _FuncRef(name)
        if name in _TYPE_NAMES:
            return _TypeRef(name)
        raise NameError(f"unknown name {name!r}")

    def _attr(self, v, name: str):
        from pyspark.sql import Row
        if isinstance(v, Row):
            # RowInstance attribute access (`row.x` after `new`)
            return v[name]
        if isinstance(v, dict):
            # vararg collector rows (`func f(...x)`) — test_vararg
            if name not in v:
                raise AttributeError(f"row has no field {name!r}")
            return v[name]
        if isinstance(v, _JoinAlias):
            if name not in v.table.df.columns:
                raise AttributeError(
                    f"table {v.name!r} has no column {name!r}")
            return F.col(f"{v.name}.{name}")
        if isinstance(v, Table):
            # lang-declared method: `Node[...].children()`
            mm = getattr(v.meta, "methods", None) or {}
            if name in mm and isinstance(mm[name], _LangMethod):
                return _BoundMethod(mm[name], v)
            # builtin table methods (reference T.table.proto_attrs,
            # pql_functions.py:1081 registers add_index) — a user
            # method of the same name shadows (checked above)
            if name == "add_index":
                return _NativeFunc(
                    "add_index",
                    lambda p, a, k, _t=v: _table_add_index(
                        p, [_t, *a], k))
            # terminal `table.col` inside a join kwarg names a join key
            # (reference join-by-column spelling) — keep the table
            j = 0
            while self.peek(j).kind == "nl":
                j += 1
            nxt = self.peek(j)
            if getattr(self, "_join_arg", False) \
                    and nxt.kind == "op" and nxt.text in (",", ")"):
                if name not in v.df.columns:
                    raise AttributeError(
                        f"table has no column {name!r}")
                return _JoinColRef(v, name)
            return v[name]
        if isinstance(v, _BackrefRef):
            brs = getattr(v.src.meta, "backrefs", None) or {}
            # attribute-resolution precedence: a PHYSICAL column of
            # the backref's source wins over a backref of the same
            # name (matching field-before-relation precedence in the
            # table context) — otherwise a junction/source column
            # that happens to share a backref's name would be
            # unreachable via dotted access
            if name in brs and name not in v.src.df.columns:
                return v.backref(self, name)
            return v.field(name)
        if isinstance(v, Column):
            # FK attribute traversal: `parent.name` follows the
            # relation via a (cached) left join on the context table
            # (reference test_self_reference; compiled as a join, the
            # same plan the reference's SQL emits)
            cn = _plain_col_name(v)
            if cn is not None and self.table is not None \
                    and cn in (self.table.meta.fks or {}):
                return self._fk_field(cn, name)
            # struct field or timestamp property
            from preql_spark.functions import scalar as s
            props = {"hour": s.dt_hour, "minute": s.dt_minute, "day": s.dt_day,
                     "month": s.dt_month, "year": s.dt_year,
                     "day_of_week": s.dt_day_of_week,
                     "week_of_year": s.dt_week_of_year}
            if name in props:
                return props[name](v)
            return v.getField(name)
        raise TypeError(f"cannot access .{name} on {type(v)}")

    def _capture_arg_span(self) -> "_LazySpan":
        """Capture one call argument as its raw token span (balanced
        to the next top-level ``,`` or ``)``) without evaluating it —
        the `$param` lazy-argument path."""
        start, depth = self.i, 0
        while True:
            t = self.peek()
            if t.kind == "eof":
                break
            if depth == 0 and t.kind == "op" and t.text in (",", ")"):
                break
            if t.kind == "op" and t.text in "([{":
                depth += 1
            elif t.kind == "op" and t.text in ")]}":
                depth -= 1
            self.next()
        return _LazySpan(self.toks[start:self.i] + [Tok("eof", "")])

    def _eval_lazy(self, lz: "_LazySpan"):
        """Compile a captured `$param` span in the *current* context
        (table, aggregation side, env) — reference evaluate.py:597."""
        sub = Parser(self.engine, "", self.env)
        sub.toks = lz.toks
        sub.table = self.table
        sub.in_agg = self.in_agg
        try:
            v = sub.expr()
            sub.expect("eof")
            return v
        finally:
            self._agg_seen = self._agg_seen or sub._agg_seen

    def _call(self, fn):
        args, kwargs = [], {}
        # join-family calls bind their table kwargs into the env as
        # they are parsed, so a later `on:` condition can reference the
        # aliases — the reference's `$on` lazy parameter
        # (evaluate.py:597; test_basic.py:1510-1525)
        join_scope = isinstance(fn, _FuncRef) and fn.name in (
            "join", "leftjoin", "outerjoin", "joinall")
        # the join-by-column flag never leaks into THIS call's argument
        # parsing (a nested call inside a join kwarg parses normally)
        outer_join_arg = getattr(self, "_join_arg", False)
        self._join_arg = False
        shadowed: dict[str, object] = {}
        while True:
            self._skip_nl()
            if self.accept("op", ")"):
                break
            if self.peek().kind == "dots" and self.peek().text == "...":
                # argument splat `f(...x)` — spreads a row/dict value
                # into keyword arguments (reference test_vararg)
                from pyspark.sql import Row
                self.next()
                spread = self.expr()
                if isinstance(spread, Row):
                    spread = spread.asDict()
                if not isinstance(spread, dict):
                    raise TypeError("'...' in a call expects a row value")
                kwargs.update(spread)
                self.accept("op", ",")
                continue
            if self.peek().kind in ("name", "sname") \
                    and self.peek(1).kind == "op" \
                    and self.peek(1).text == ":":
                k = self.next().text
                self.next()
                if k.startswith("$") and isinstance(fn, _FuncRef):
                    # builtins declare `$on` (pql_functions.py:1142);
                    # both `$on:` and plain `on:` are accepted
                    k = k[1:]
                if isinstance(fn, _UserFunc) \
                        and ("$" + k.lstrip("$")) in fn.params:
                    kwargs["$" + k.lstrip("$")] = self._capture_arg_span()
                    self.accept("op", ",")
                    continue
                if join_scope:
                    self._join_arg = True
                try:
                    kwargs[k] = self.expr()
                finally:
                    self._join_arg = False
                if join_scope and isinstance(kwargs[k],
                                             (Table, _JoinColRef)):
                    if k in self.env:
                        shadowed[k] = self.env[k]
                    # alias proxy: `a.col` inside `on:` becomes the
                    # qualified F.col("a.col"), which resolves against
                    # the frames join() aliases by kwarg name — and
                    # stays unambiguous for self-joins
                    t = kwargs[k].table if isinstance(kwargs[k],
                                                      _JoinColRef) \
                        else kwargs[k]
                    self.env[k] = _JoinAlias(k, t)
            else:
                if isinstance(fn, _UserFunc) and len(args) < len(fn.params) \
                        and fn.params[len(args)].startswith("$"):
                    args.append(self._capture_arg_span())
                else:
                    args.append(self.expr())
            self.accept("op", ",")
        if join_scope:
            for k, v in kwargs.items():
                if isinstance(v, (Table, _JoinColRef)) \
                        and k not in shadowed:
                    self.env.pop(k, None)
            self.env.update(shadowed)
        self._join_arg = outer_join_arg
        if isinstance(fn, _FuncRef):
            return _apply_function(self, fn.name, args, kwargs)
        if isinstance(fn, _NativeFunc):
            return fn.fn(self, args, kwargs)
        if isinstance(fn, _BoundMethod):
            return self._invoke_method(fn, args, kwargs)
        if isinstance(fn, _UserFunc):
            return self._inline_call(fn, args, kwargs)
        if isinstance(fn, _ListCastRef):
            if len(args) != 1 or not isinstance(args[0], Table):
                raise LangSignal("TypeError", "list[...] expects a list")
            spark_t = self._TYPE_MAP.get(fn.type_name, fn.type_name)
            src = args[0]
            return src._with(src.df.select(
                F.col("item").cast(spark_t).alias("item")))
        raise TypeError(f"{fn!r} is not callable")

    def _inline_call(self, fn: "_UserFunc", args, kwargs):
        """Inline a user function: re-parse the captured body with
        parameters bound to the (already-evaluated) argument values —
        Columns compose into the caller's expression, Tables flow
        through relational ops.  No spark.udf anywhere."""
        vararg = None
        pos_params = fn.params
        if fn.params and fn.params[-1].startswith("..."):
            vararg = fn.params[-1][3:]
            pos_params = fn.params[:-1]
        if len(args) > len(pos_params):
            raise TypeError(f"{fn.name}() takes {len(pos_params)} args")
        binding = dict(zip(pos_params, args))
        extra: dict = {}
        for k, v in kwargs.items():
            if k not in pos_params:
                if vararg is None:
                    raise TypeError(f"{fn.name}() has no parameter {k!r}")
                extra[k] = v
                continue
            if k in pos_params[:len(args)]:
                raise TypeError(
                    f"{fn.name}(): parameter {k!r} bound twice")
            binding[k] = v
        if vararg is not None:
            # the collector binds as a row-like dict (reference
            # RowInstance; attribute access and `...x` re-splat work)
            binding[vararg] = extra
        for p, v in binding.items():
            if p.startswith("$") and not isinstance(v, _LazySpan):
                raise TypeError(
                    f"{fn.name}() parameter {p!r} is lazy; internal "
                    f"error: got evaluated value {type(v).__name__}")
        for p, dv in (getattr(fn, "defaults", None) or {}).items():
            binding.setdefault(p, dv)
        missing = [p for p in pos_params if p not in binding]
        if missing:
            raise TypeError(f"{fn.name}() missing arguments: {missing}")
        sub = Parser(self.engine, "", {**self.env, **binding})
        sub.toks = fn.body
        sub.table = self.table
        sub.in_agg = self.in_agg
        try:
            if fn.block:
                # block body: execute statements; `return` raises
                # through (reference ReturnSignal, evaluate.py:421-424)
                try:
                    sub._skip_seps()
                    while sub.peek().kind != "eof":
                        sub.statement()
                        sub._skip_seps()
                    return None
                except _ReturnSignal as r:
                    return r.value
            v = sub.expr()
            sub.expect("eof")
            return v
        finally:
            # aggregate usage inside the inlined body counts for the
            # caller's agg-entry wrapping (`{=> sqsum(item)}` where
            # sqsum contains sum — no MakeArray around an aggregate)
            self._agg_seen = self._agg_seen or sub._agg_seen

    # ---- coercion --------------------------------------------------
    def _is_stringy(self, x) -> bool:
        """Best-effort static stringiness for operator dispatch
        (compile_binops.py:246-259 dispatches ``+``/``*`` on the
        Preql type): Python str literals, and bare current-table
        columns whose schema dtype is string."""
        if isinstance(x, str):
            return True
        if isinstance(x, Column) and self.table is not None:
            name = str(x)
            if name.startswith("Column<'") and name.endswith("'>"):
                name = name[8:-2]
                dt = dict(self.table.df.dtypes).get(name)
                if dt is not None:
                    return dt == "string"
            # computed column (CASE/concat/...): ask the analyzer for
            # its type against the context table — plan-only, no job
            # (fizzbuzz: fizz(i) + buzz(i) concatenates CASE strings)
            try:
                from pyspark.sql.types import StringType
                return isinstance(
                    self.table.df.select(x).schema[0].dataType,
                    StringType)
            except Exception:
                return False
        return False

    def _col(self, v) -> Column:
        if isinstance(v, Column):
            return v
        if isinstance(v, _FuncRef):
            # a bare function name used as a value would otherwise
            # leak into py4j as an opaque object ("no attribute
            # '_get_object_id'") — say what actually went wrong
            raise LangSignal(
                "TypeError",
                f"{v.name!r} is a function — call it (e.g. "
                f"{v.name}(...)), it cannot be used as a value")
        if isinstance(v, _SemiPred):
            # membership used as a VALUE (projection, nested boolean
            # math): bounded literal fallback — only a selection can
            # lower it to a semi-join
            return v.as_column()
        if isinstance(v, _BackrefRef):
            return v.pk_col()
        if isinstance(v, Table):
            # 1-column table used as a scalar/vector — take its column
            if len(v.df.columns) == 1:
                return v.df[v.df.columns[0]]
            raise TypeError("cannot use multi-column table as a value")
        if isinstance(v, _OpenRange):
            raise LangSignal(
                "NotImplementedError",
                "an unbounded series supports only slicing")
        from pyspark.sql import Row
        if isinstance(v, Row):
            # a row value in a scalar position compares by its primary
            # key (reference RowInstance semantics — `Person[id != me]`
            # where `me = new Person(...)`, test_basic.py:99-100)
            d = v.asDict()
            if "id" in d:
                return F.lit(d["id"])
        return F.lit(v)


@dataclass
class _FuncRef:
    name: str


@dataclass
class _TypeRef:
    """A first-class type value (`type(x)`, bare `number`/`table`)."""
    name: str


class _StructInline:
    """``t{ structcol {...} }`` — inline a struct column's fields as
    top-level columns at this position (reference from_struct
    ellipsis, compiler.py:104-112)."""

    def __init__(self, col: Column, excludes: list[str]):
        self.col = col
        self.excludes = excludes

    def expand(self, tab: Table) -> list:
        from pyspark.sql.types import StructType
        dt = tab.df.select(self.col).schema[0].dataType
        if not isinstance(dt, StructType):
            raise TypeError(
                f"Cannot inline objects of type {dt.simpleString()}")
        names = [f.name for f in dt.fields]
        missing = [n for n in self.excludes if n not in names]
        if missing:
            raise NameError(f"Fields to exclude {missing} not found")
        return [(n, self.col.getField(n)) for n in names
                if n not in self.excludes]


@dataclass
class _JoinAlias:
    """Join-scope binding for `on:` conditions (`$on` parity)."""
    name: str
    table: "Table"


class _BackrefRef:
    """A reverse relation resolved in a table context (reference
    backrefs, test_basic.py test_self_reference).  `count(children)`
    counts the joined rows (non-null source pks); `children.field`
    reads a source field (collect_list'd under `=>`)."""

    def __init__(self, name: str, prefix: str, src, context):
        self.name = name
        self.prefix = prefix
        self.src = src
        self.context = context

    def pk_col(self) -> Column:
        pk = self.src.meta.pk or "id"
        return self.context.df[self.prefix + pk]

    def field(self, field: str) -> Column:
        if field not in self.src.df.columns:
            raise AttributeError(
                f"backref {self.name!r} has no field {field!r}")
        return self.context.df[self.prefix + field]

    def backref(self, parser, bname: str) -> "_BackrefRef":
        """Nested backref: a reverse relation OF the backref's source
        table, resolved on the already-joined rows — the
        `children.ab.b.name` chain of the reference's (disabled)
        test_m2m_with_self_reference.  Joins src2 onto the context by
        the composed prefix; src2's FKs ride along so the chain can
        continue forward (`.b.name`).  All joins are left, so
        unmatched rows carry NULL through the whole chain."""
        src2_name, fk_col = self.src.meta.backrefs[bname]
        src2 = parser.engine.table(src2_name)
        prefix2 = f"{self.prefix}__br_{bname}__"
        pk = self.src.meta.pk or "id"
        if not any(c.startswith(prefix2)
                   for c in parser.table.df.columns):
            renamed = src2.df.select(
                [src2.df[c].alias(prefix2 + c)
                 for c in src2.df.columns])
            joined = parser.table.df.join(
                renamed,
                parser.table.df[self.prefix + pk]
                == renamed[prefix2 + fk_col], "left")
            aug = parser.table._with(joined)
            aug.meta.fks = {**aug.meta.fks,
                            **{prefix2 + c: rel
                               for c, rel in (src2.meta.fks
                                              or {}).items()}}
            parser.table = aug
        return _BackrefRef(f"{self.name}.{bname}", prefix2, src2,
                           parser.table)


class _NativeFunc:
    """A module-provided native function: called with the parser so it
    can convert lang values ↔ DataFrames (reference module functions,
    preql/modules/graph.pql)."""

    def __init__(self, name: str, fn):
        self.name = name
        self.fn = fn

    def __repr__(self):
        return f"<native function {self.name}>"


def _graph_module() -> dict:
    """The reference ``graph`` module (graph.pql:3-36) on the Spark
    graph operators: bfs → reachable nodes as a list (item), walk_tree
    → (id, rank) rows with revisits, like the reference's UNION ALL
    recursion."""
    from preql_spark.operators import graph as g

    def _df(v):
        return v.df if isinstance(v, Table) else v

    def bfs(parser, args, kwargs):
        edges, initial = args[0], args[1]
        out = g.bfs(_df(edges), _df(initial))
        return parser.engine.from_df(
            out.select(F.col(out.columns[0]).alias("item")))

    def walk_tree(parser, args, kwargs):
        edges, initial, max_rank = args[0], args[1], args[2]
        out = g.walk_tree(_df(edges), _df(initial),
                          int(parser._pyval(max_rank)))
        return parser.engine.from_df(
            out.select(F.col(out.columns[0]).alias("id"), "rank"))

    return {"bfs": _NativeFunc("bfs", bfs),
            "walk_tree": _NativeFunc("walk_tree", walk_tree)}


@dataclass
class _StructDef:
    """``struct Name {field: type}`` declaration — a named struct type
    (reference StructDef; tests/box_circle.pql)."""
    name: str
    fields: list  # [(field_name, spark_ddl_type)]


@dataclass
class _LangMethod:
    """Table method declared in DDL (`func area() = size * size`) —
    body kept as tokens, compiled per call with the bound table in
    context (reference MethodInstance, pql_objects.py:266-274)."""
    name: str
    params: list
    toks: list


@dataclass
class _BoundMethod:
    """A `_LangMethod` resolved against a concrete table — produced by
    name lookup inside that table's context (or `t.method`), consumed
    by `_call`."""
    method: _LangMethod
    table: "Table"


@dataclass
class _JoinColRef:
    """Join-by-column argument ``join(c: Country.name, n: lst.item)``
    (reference pql_functions.py join: column operands name the join
    keys directly; tests/test_autocomplete.py test_attr).  Captured at
    parse time inside a join kwarg, where a plain ``table.col`` read
    would lose the table identity."""
    table: "Table"
    col: str


@dataclass
class _ListCastRef:
    """``list[int]`` — a parametrized list-cast callable
    (test_basic.py:599-603)."""
    type_name: str


@dataclass
class _OpenRange:
    """``[a..]`` — an unbounded integer series.  Symbolic: a slice
    bounds it into a real range table; any other use raises, like the
    engines the reference documents as not supporting infinite series
    (test_basic.py:637-641)."""
    engine: object
    start: int

    def slice(self, a: int, b: int | None):
        if b is None:
            return _OpenRange(self.engine, self.start + a)
        return self.engine.range(self.start + a, self.start + b)


@dataclass
class _LazySpan:
    """An unevaluated argument expression, captured as its token span.

    Reference ``$param`` lazy parameters (evaluate.py:597: "$param
    means don't evaluate expression, leave it to the function"): a
    function parameter spelled ``$x`` receives the call-site expression
    *unevaluated*; it compiles only where the body references ``$x``,
    against whatever table/aggregation context is current there.  This
    lets callers write ``filt(orders, o_totalprice > 100)`` — the
    predicate names columns that only exist inside the function."""
    toks: list


class _MutableRef(Table):
    """A mutable table reference flowing through the language: behaves
    as a (possibly filtered) Table everywhere, and additionally
    carries the MutableTable handle + accumulated selection conditions
    so postfix ``update {…}`` / ``delete [...]`` can hit storage — the
    reference's Selection-aware Update/Delete (evaluate.py:720-806)."""

    def __init__(self, engine, handle, conds: list | None = None,
                 base_df=None, view_cols: list | None = None):
        from preql_spark.engine import TableMeta
        self.handle = handle
        self.conds = list(conds or [])
        base = base_df if base_df is not None else handle.df()
        self.base_df = base
        self.view_cols = list(view_cols) if view_cols else None
        view = base
        for c in self.conds:
            view = view.filter(c)
        if self.view_cols:
            # partial declaration connected to an existing table
            # (evaluate.py:236-241 select_fields): the READ view shows
            # the declared(+merged) columns; DML still hits the full
            # storage row via base_df
            view = view.select(*self.view_cols)
        super().__init__(engine, view,
                         meta=TableMeta(handle.name, pk=handle.id_col,
                                        fks=getattr(handle, "fks", None)
                                        or {},
                                        methods=getattr(handle, "methods",
                                                        None) or {},
                                        backrefs=getattr(handle,
                                                         "backrefs",
                                                         None) or {}))

    def with_conds(self, conds: list) -> "_MutableRef":
        return _MutableRef(self.engine, self.handle,
                           self.conds + list(conds), base_df=self.base_df,
                           view_cols=self.view_cols)

    def _combined_cond(self):
        if not self.conds:
            return F.lit(True)
        out = self.conds[0]
        for c in self.conds[1:]:
            out = out & c
        return out

    def apply_update(self, sets: dict) -> None:
        self.handle.update(self._combined_cond(), _cur=self.base_df, **sets)
        self.engine._sync_mutable(self.handle.name)

    def apply_delete(self, extra_conds: list) -> None:
        cond = self.with_conds(extra_conds)._combined_cond()
        self.handle.delete(cond, _cur=self.base_df)
        self.engine._sync_mutable(self.handle.name)


@dataclass
class _UserFunc:
    """``func f(x) = body`` — body kept as an unevaluated token span,
    inlined at each call site (reference: UserFunction,
    pql_objects.py:216-236 + eval_func_call, evaluate.py:579-648).
    ``block=True`` marks the statement-body form ``func f(x) {...}``."""
    name: str
    params: list
    body: list
    block: bool = False
    # parameter defaults `func f(a, b=4)` (reference test_keywords)
    defaults: dict = field(default_factory=dict)


class _AutoName(str):
    """A guessed (non-user-defined) projection field name — eligible
    for collision auto-suffixing (compiler.py:231-243)."""


def _check_dup_names(entries, agg_entries=()):
    """Resolve projection output names like the reference
    (compiler.py:196-243): an explicitly *user-written* name may
    appear once (`{a: 1, a: 2}` raises TypeError); guessed names
    (`count()` → "count", `a.b` → "b", anything else → "_") auto-
    suffix on collision: "_", "_1", "_2" / "count", "count1".
    Mutates the (name, col) tuples in place by index."""
    all_entries = list(entries) + list(agg_entries)

    def name_of(e):
        return e if isinstance(e, str) else \
            (e[0] if isinstance(e, tuple) else None)

    user = [n for e in all_entries
            if (n := name_of(e)) is not None and not isinstance(n, _AutoName)]
    dups = {n for n in user if user.count(n) > 1}
    if dups:
        raise LangSignal(
            "TypeError",
            f"Field {sorted(dups)[0]!r} was already used in this projection")
    taken: set[str] = set(user)
    for lst in (entries, agg_entries):
        for i, e in enumerate(lst):
            n = name_of(e)
            if n is None or not isinstance(n, _AutoName):
                continue
            new, k = str(n), 1
            while new in taken:
                new = str(n) + str(k)
                k += 1
            taken.add(new)
            if isinstance(e, tuple):
                lst[i] = (new, e[1])
            elif new != n:
                # a renamed bare column ref must still read the
                # original column
                lst[i] = (new, F.col(str(n)))


def _coerce_new_value(dtype, v):
    """Coerce a `new`-supplied Python value to its declared column
    type: lists/rows → struct tuples (recursively), row values → their
    id for FK (long) columns, ISO strings → datetimes.  Mirrors the
    reference's insert-time cast (evaluate.py new → cast_to_instance)."""
    import datetime as _dt
    from pyspark.sql import Row
    from pyspark.sql import types as T
    if v is None or dtype is None:
        return v
    if isinstance(dtype, T.StructType):
        if isinstance(v, Table):
            # lang list literal `[1, 1]` arrives as a one-column table
            # — its items fill the struct fields positionally
            v = [row[0] for row in v.df.collect()]
        if isinstance(v, Row):
            v = list(v)
        if isinstance(v, (list, tuple)):
            return tuple(_coerce_new_value(f.dataType, x)
                         for f, x in zip(dtype.fields, v))
        if isinstance(v, dict):
            return {f.name: _coerce_new_value(f.dataType, v.get(f.name))
                    for f in dtype.fields}
        return v
    if isinstance(dtype, T.DoubleType) and isinstance(v, int) \
            and not isinstance(v, bool):
        return float(v)
    if isinstance(dtype, T.LongType) and isinstance(v, Row):
        d = v.asDict()
        if "id" in d:
            return d["id"]
    if isinstance(dtype, T.TimestampType) and isinstance(v, str):
        return _dt.datetime.fromisoformat(v)
    return v


def _literal_kernel(x) -> str | None:
    """Kernel type of a Python literal value ('num'/'str'), None for
    anything vectorized/tabular."""
    if isinstance(x, (bool, int, float)):
        return "num"
    if isinstance(x, str):
        return "str"
    return None


def _is_literal_col(c: Column) -> bool:
    """True for constant literal columns (NULL/TRUE/42/'s') — these
    stay scalar on the agg side instead of collecting to arrays
    (reference keeps constants as constants; test_list_ops
    `{null => null}`)."""
    m = re.fullmatch(r"Column<'(.*)'>", str(c), re.S)
    if not m:
        return False
    inner = m.group(1)
    return (inner.upper() in ("NULL", "TRUE", "FALSE")
            or re.fullmatch(r"-?\d+(\.\d+)?", inner) is not None
            or re.fullmatch(r"'[^']*'", inner) is not None)


def _plain_col_name(c: Column) -> str | None:
    """Name if the column is a trivial attribute reference (literals
    like NULL/TRUE/42 render the same way but are not references)."""
    s = str(c)
    # qualified refs (`view.col` — catalog-table reads resolve
    # qualified) keep the leaf, like the reference guess_field_name
    # (compiler.py:132-148)
    m = re.fullmatch(r"Column<'(\w+(?:\.\w+)*)'>", s)
    if not m:
        return None
    name = m.group(1).rsplit(".", 1)[-1]
    if name.upper() in ("NULL", "TRUE", "FALSE") or name.isdigit():
        return None
    return name


def _type_name_of(parser: Parser, v) -> str:
    """Runtime Preql type name (reference obj.type)."""
    if isinstance(v, bool):
        return "bool"
    if isinstance(v, int):
        return "int"
    if isinstance(v, float):
        return "float"
    if isinstance(v, str):
        return "string"
    if v is None:
        return "nulltype"
    if isinstance(v, Table):
        return "list" if v.df.columns == ["item"] else "table"
    if isinstance(v, Column):
        return _type_name_of(parser, parser._pyval(v))
    if isinstance(v, (_FuncRef, _TypeRef)):
        return "type"
    return type(v).__name__


# subtype lattice (reference pql_types: int/float <= number,
# list <= table — pql_functions.py:246-260 issubclass examples)
_SUPERS = {"int": {"int", "number", "any"},
           "float": {"float", "number", "any"},
           "bool": {"bool", "any"},
           # reference pql_types.py: string <= text
           "string": {"string", "text", "any"},
           "text": {"text", "any"},
           "nulltype": {"nulltype", "any"},
           "list": {"list", "table", "any"},
           "table": {"table", "any"},
           "type": {"type", "any"},
           "number": {"number", "any"},
           "timestamp": {"timestamp", "any"}}


def _as_type_name(t) -> str:
    if isinstance(t, (_FuncRef, _TypeRef)):
        return t.name
    if isinstance(t, str):
        return t
    raise TypeError(f"expected a type, got {t!r}")


def _doc_of(fn_name: str) -> str:
    """First docstring line of a builtin's implementation, if any."""
    impl = _SCALAR_MAP.get(fn_name) or _AGG_MAP.get(fn_name)
    doc = getattr(impl, "__doc__", None) or ""
    return doc.splitlines()[0].strip() if doc else ""


def _names_table(parser: "Parser", obj=None) -> Table:
    """``names([obj])`` — list the names in scope (or the attributes
    of ``obj``) as a (name, type, doc) table — pql_functions.py:786-803."""
    from preql_spark.engine import TableMeta
    rows: list[tuple] = []
    if obj is None:
        for n, v in parser.env.items():
            if isinstance(v, _UserFunc):
                rows.append((n, "function", f"func {n}({', '.join(v.params)})"))
            elif isinstance(v, Table):
                rows.append((n, "table", ""))
            else:
                rows.append((n, _type_name_of(parser, v), ""))
        for n in parser.engine.tables():
            rows.append((n, "table", ""))
        for n in sorted(parser.engine.mutables):
            rows.append((n, "table", ""))
        for n in sorted(_FUNCTIONS | _TABLE_FUNCS):
            rows.append((n, "function", _doc_of(n)))
    elif isinstance(obj, Table):
        rows = [(c, t, "") for c, t in obj.df.dtypes]
    else:
        raise LangSignal("TypeError", "names() expects a table")
    rows = sorted(set(rows))
    df = parser.engine.spark.createDataFrame(
        rows, "name string, type string, doc string")
    return Table(parser.engine, df, TableMeta("names"))


def _help_text(parser: "Parser", obj=None) -> str:
    """``help([obj])`` — a brief text summary (pql_functions.py:735-777)."""
    if obj is None:
        return ("To see the list of functions and objects available in "
                "the namespace, type 'names()'\n"
                "To get help for a specific function, type 'help(an_object)'\n"
                "For example:\n    >> help(help)\n")
    if isinstance(obj, _UserFunc):
        return f"func {obj.name}({', '.join(obj.params)}) — user function"
    if isinstance(obj, _FuncRef):
        doc = _doc_of(obj.name)
        return f"{obj.name}() — {doc}" if doc else \
            f"{obj.name}() — builtin function"
    if isinstance(obj, Table):
        cols = ", ".join(f"{c}: {t}" for c, t in obj.df.dtypes)
        return f"table {obj.meta.name} {{{cols}}}"
    if isinstance(obj, _TypeRef):
        return f"type {obj.name}"
    return f"No help available for {obj!r}"


def _table_add_index(parser: Parser, args, kwargs=None):
    """pql_table_add_index (pql_functions.py:1043-1082): the
    reference no-ops on columnar targets (snowflake/redshift/
    bigquery) and so does Spark — the analogue is write-time layout
    (partition/bucket/Z-order), see engine.add_index.  Reachable as
    the table METHOD ``t.add_index(cols)`` (the reference registers
    add_index on T.table.proto_attrs, pql_functions.py:1081) and via
    the free-function alias ``table_add_index(t, cols)``.  We check
    the first arg is a table and the columns exist; the reference
    only checks persistence and defers column errors to the DB, so
    the column check here is deliberately STRICTER (fail at the call
    site, not at write time)."""
    if len(args) < 2:
        raise LangSignal(
            "TypeError", "add_index(): missing required arguments "
            "(table, column_or_columns[, unique])")
    t = args[0]
    if not isinstance(t, Table):
        raise LangSignal(
            "TypeError", "add_index() first argument must be a table")
    cols = parser._pyval(args[1])
    cols = [cols] if isinstance(cols, str) else list(cols)
    missing = [c for c in cols if c not in t.df.columns]
    if missing:
        raise LangSignal(
            "TypeError", f"add_index(): no such column {missing[0]!r}")
    # the reference binds `unique` BY NAME (pql_functions.py:1043
    # signature `unique: bool = false`), so the keyword spelling
    # `t.add_index("col", unique: true)` must reach the engine —
    # silently dropping kwargs would diverge from reference call
    # semantics the moment a backend makes add_index non-no-op
    kwargs = kwargs or {}
    unexpected = [k for k in kwargs if k != "unique"]
    if unexpected:
        raise LangSignal(
            "TypeError",
            f"add_index(): unexpected keyword argument "
            f"{unexpected[0]!r}")
    if "unique" in kwargs and len(args) > 2:
        raise LangSignal(
            "TypeError",
            "add_index(): got multiple values for argument 'unique'")
    unique = (bool(parser._pyval(kwargs["unique"]))
              if "unique" in kwargs
              else bool(parser._pyval(args[2])) if len(args) > 2
              else False)
    parser.engine.add_index(t.meta.name, cols, unique=unique)
    return None


def _apply_function(parser: Parser, name: str, args, kwargs):
    # generic arity backstop: every builtin branch below indexes args
    # positionally; a call with too few arguments must surface as a
    # clean TypeError signal, never an internal IndexError (the
    # _min_args gate in the table-func chain gives the precise
    # message for those; this catches every other builtin — fmt(),
    # type(), repr(), PY(), ... — uniformly).  Only an IndexError
    # whose traceback never LEFT this module is an arity miss — one
    # raised inside an eagerly-executed operator body (e.g. kmeans
    # centroid indexing) is a real error and re-raises untouched.
    try:
        return _apply_function_inner(parser, name, args, kwargs)
    except IndexError as e:
        tb = e.__traceback__
        while tb is not None:
            if tb.tb_frame.f_code.co_filename != __file__:
                raise
            tb = tb.tb_next
        raise LangSignal(
            "TypeError", f"{name}(): wrong number of arguments") from e


def _apply_function_inner(parser: Parser, name: str, args, kwargs):
    from preql_spark.functions import aggregate as agg
    from preql_spark import table as tbl

    # a backref argument (`count(children)`) stands for the joined
    # source rows: its pk column (non-null per matching row)
    args = [a.pk_col() if isinstance(a, _BackrefRef) else a
            for a in args]

    # ---- reflection (pql_functions.py:246-278, 627-651) ------------
    if name == "isa":
        obj, ty = args
        return _as_type_name(ty) in _SUPERS.get(
            _type_name_of(parser, obj), {"any"})
    if name == "issubclass":
        a, b = (_as_type_name(x) for x in args)
        return _as_type_name(b) in _SUPERS.get(a, {a, "any"})
    if name == "type":
        return _TypeRef(_type_name_of(parser, args[0]))
    if name == "repr":
        v = args[0]
        if isinstance(v, Table):
            cols = ", ".join(f"{c}: {t}" for c, t in v.df.dtypes)
            return f"table {v.meta.name} {{{cols}}} ={v.count()}"
        if isinstance(v, (_FuncRef, _TypeRef)):
            return v.name
        v = parser._pyval(v)
        if isinstance(v, bool):
            return "true" if v else "false"
        if v is None:
            return "null"
        if isinstance(v, str):
            return f'"{v}"'
        return str(v)

    if name == "cast":
        # pql_cast (pql_functions.py:668-682): cast(obj, type) applies
        # the type's cast function; the type arg is a _FuncRef (int,
        # float, ...) or _TypeRef
        obj, ty = args
        tyname = _as_type_name(ty)
        if tyname in _SCALAR_MAP:
            return _SCALAR_MAP[tyname](
                obj if isinstance(obj, Column) else parser._col(obj))
        raise LangSignal("TypeError", f"cannot cast to {tyname!r}")
    if name in ("table_concat", "table_union", "table_intersect",
                "table_substract", "table_subtract"):
        # function spellings of + | & - (pql_functions.py:385-417).
        # The reference REGISTERS the correct "table_subtract"
        # (pql_functions.py:1111) pointing at an internally
        # misspelled pql_table_substract (:393); accept both — the
        # registered name is the one reference users actually call
        t1, t2 = args
        if not isinstance(t1, Table) or not isinstance(t2, Table):
            raise LangSignal("TypeError", f"{name}() arguments must be tables")
        return {"table_concat": lambda: t1 + t2,
                "table_union": lambda: t1 | t2,
                "table_intersect": lambda: t1 & t2,
                "table_substract": lambda: t1 - t2,
                "table_subtract": lambda: t1 - t2}[name]()
    if name == "env_vars":
        # pql_env_vars (pql_functions.py:820-828): (name, value) table
        import os as _os
        rows = [(k, v) for k, v in _os.environ.items()]
        df = parser.engine.spark.createDataFrame(
            rows or [("", "")], "name string, value string")
        if not rows:
            df = df.limit(0)
        return parser.engine.from_df(df)
    if name == "get_db_type":
        # pql_get_db_type (pql_functions.py:351-359) — ours is spark
        return "spark"
    if name == "force_eval":
        # pql_force_eval (pql_functions.py:125-130): execute now and
        # return the localized Python value
        v = args[0]
        if isinstance(v, Table):
            return [r.asDict(recursive=True) for r in v.df.collect()]
        return parser._pyval(v)
    if name == "inspect_sql":
        # pql_inspect_sql (pql_functions.py:76-83): the executable
        # form of the query — for Spark, the optimized plan text
        v = args[0]
        if not isinstance(v, Table):
            raise LangSignal("TypeError",
                             "inspect_sql() expects a table expression")
        return v.inspect_plan()
    if name == "PY":
        # pql_PY (pql_functions.py:43-73): evaluate a Python
        # expression, $var interpolated from the lang environment
        import re as _re
        code = parser._pyval(args[0])
        setup = parser._pyval(args[1]) if len(args) > 1 else None
        ns: dict = {}
        if setup:
            exec(setup, ns)  # noqa: S102 - the reference's escape hatch

        def _sub(m):
            return str(parser._pyval(parser._name(m.group()[1:])))
        code = _re.sub(r"\$\w+", _sub, code)
        return eval(code, ns)  # noqa: S307 - reference PY() semantics
    if name == "exit":
        # pql_exit — quit the interpreter/REPL
        raise SystemExit(0)
    if name == "connect":
        # pql_connect (pql_functions.py:715-733): attach a data
        # source — the SAME URI schemes as the Python-level connect
        # (git:// sqlite:// duck:// JDBC dialects, or a parquet dir)
        parser.engine.attach(parser._pyval(args[0]))
        return None
    if name == "get_qualified_name":
        # pql_get_qualified_name (:224-228) — no schema qualification
        # in the session catalog; the name is already qualified
        return parser._pyval(args[0])
    if name == "set_active_dataset":
        # pql_set_active_dataset (:218-222) — BigQuery dataset
        # switching; no analogue in a single session catalog
        raise LangSignal(
            "NotImplementedError",
            "set_active_dataset is BigQuery-specific; the Spark "
            "session catalog has a single namespace")
    if name == "table_add_index":
        # free-function alias for the add_index table METHOD (the
        # reference spelling is `t.add_index(...)` — see _attr's
        # builtin-method dispatch); kept callable both ways
        return _table_add_index(parser, args, kwargs)
    if name == "set_setting":
        # pql_set_setting (:210-216): display settings
        from preql_spark import display as _display
        setattr(_display, str(parser._pyval(args[0])).upper(),
                parser._pyval(args[1]))
        return None
    if name in ("debug", "breakpoint"):
        # pql_debug / pql_breakpoint (pql_functions.py:202-242):
        # interactive only — enter a nested REPL bound to the current
        # engine when stdin is a tty, else no-op (documented).  The
        # reference's breakpoint scope registers `c`/`continue`
        # (pql_functions.py:831-833) to resume the outer program —
        # same spellings here (bare or with parens)
        import sys as _sys
        if _sys.stdin.isatty():  # pragma: no cover - interactive
            from preql_spark.repl import Repl
            Repl(parser.engine).interact(
                prompt="debug> ", exit_commands=("c", "continue"))
        return None

    # ---- session / DDL control (__builtins__.pql:176-189,559-573) --
    if name == "dict":
        # `dict(a:1, b:2)` — a row value from kwargs
        # (__builtins__.pql:164)
        return {k: parser._pyval(v) for k, v in kwargs.items()}
    if name == "commit":
        parser.engine.commit()
        return None
    if name == "rollback":
        parser.engine.rollback()
        return None
    if name == "run_statement":
        parser.engine.run_statement(parser._pyval(args[0]))
        return None
    if name in ("remove_table", "remove_table_if_exists"):
        t = args[0]
        tname = t.meta.name if isinstance(t, Table) else parser._pyval(t)
        known = tname in parser.engine.mutables \
            or tname in parser.engine.tables()
        if not known and name == "remove_table":
            raise LangSignal("KeyError", f"no such table {tname!r}")
        if known:
            parser.engine.drop_table(tname)
        return None

    if name in ("import_csv", "import_json"):
        # `import_csv(tbl, path, header)` loads INTO a declared table
        # (reference pql_functions.py:902-956; movie_recommender.pql);
        # with a string first argument it registers a new table
        tgt = args[0]
        path = parser._pyval(args[1])
        header = bool(parser._pyval(args[2])) if len(args) > 2 else True
        spark = parser.engine.spark
        if name == "import_csv":
            df = spark.read.csv(path, header=header, inferSchema=True)
        else:
            # a file whose first byte is '[' is a JSON ARRAY document
            # (examples/airports.pql gist), not NDJSON — Spark needs
            # multiLine to parse it as one value per file
            multi = False
            try:
                with open(path, "rb") as fh:
                    head = fh.read(64).lstrip()
                multi = head.startswith(b"[")
            except OSError:
                pass
            df = spark.read.json(path, multiLine=multi)
        if isinstance(tgt, _MutableRef):
            tgt.handle.insert_from(df)
            parser.engine._sync_mutable(tgt.handle.name)
            return parser._make_mutable_ref(tgt.handle.name)
        if isinstance(tgt, str):
            return parser.engine.register(tgt, df)
        raise LangSignal("TypeError",
                         f"{name}() expects a table or name first")

    if name == "import_table":
        # reflect an existing warehouse table into the namespace
        # (reference pql_import_table — pql_functions.py:689-711;
        # examples/bigquery_covid19.pql).  On Spark the warehouse is
        # the session catalog (metastore tables / temp views); an
        # optional second argument whitelists columns.
        qual = parser._pyval(args[0])
        try:
            df = parser.engine.spark.table(qual)
        except Exception:
            raise LangSignal("KeyError",
                             f"no such catalog table {qual!r}") from None
        if len(args) > 1:
            cols = parser._pyval(args[1])
            missing = [c for c in cols if c not in df.columns]
            if missing:
                raise LangSignal(
                    "TypeError", f"columns {missing} not in {qual!r}")
            df = df.select(*cols)
        # bind under the unqualified leaf name, like the reference
        return parser.engine.register(qual.split(".")[-1], df)

    # ---- interactive surface (pql_functions.py:735-813) ------------
    if name in ("names", "dir"):
        # `dir` is the reference's alias for names
        # (pql_functions.py:1103 `'dir': pql_names`)
        return _names_table(parser, args[0] if args else None)
    if name == "serve_rest":
        # reference pql_serve_rest (pql_functions.py:985-1040) takes a
        # `{name: func}` struct; the lang spelling here is keyword
        # endpoints — `serve_rest(index: index, port: 0)` — since
        # standalone struct literals are a projection-only form.
        # `block: false` (an extension) returns the server handle
        # instead of serving forever.
        from preql_spark.engine import _Delegate
        from preql_spark.rest import serve_rest as _serve
        port, block, eps = 8080, True, {}
        for k, v in dict(kwargs).items():
            if k == "port":
                port = int(parser._pyval(v))
            elif k == "block":
                block = bool(parser._pyval(v))
            else:
                if isinstance(v, _UserFunc):
                    v = _Delegate(parser.engine, v)
                elif isinstance(v, _FuncRef):
                    v = _Delegate(parser.engine, v.name)
                eps[k] = v
        if not eps:
            raise LangSignal(
                "TypeError",
                "serve_rest() needs at least one `name: endpoint`")
        return _serve(parser.engine, eps, port=port, block=block)
    if name == "help":
        return _help_text(parser, args[0] if args else None)
    if name == "tables":
        from preql_spark.engine import TableMeta
        rows = [(n, "table") for n in sorted(
            set(parser.engine.tables()) | set(parser.engine.mutables))]
        df = parser.engine.spark.createDataFrame(
            rows or [("", "")], "name string, type string")
        if not rows:
            df = df.limit(0)
        return Table(parser.engine, df, TableMeta("tables"))

    # ---- SQL() escape hatch (pql_functions.py:86-123) --------------
    if name == "SQL":
        if len(args) != 2:
            raise TypeError("SQL(result_type, code)")
        ty, code = args
        tyname = ty.name if isinstance(ty, (_FuncRef, _TypeRef)) else None
        if tyname is None and ty in (int, float, str, bool):
            # python-embedding spelling: p.SQL(int, "SELECT 2")
            # (reference test_from_python, test_basic.py:271-286)
            tyname = {int: "int", float: "float",
                      str: "string", bool: "bool"}[ty]
        if tyname in ("int", "float", "string", "bool", "number") \
                and parser.table is not None:
            # scalar type in row context → vectorized SQL expression
            # over the current table's columns.  $name resolves through
            # the env first so an inlined function parameter substitutes
            # its bound column/literal (tutorial do_sql_stuff:
            # SQL(string, "lower($x) ...") with x=item)
            def subv(m: "re.Match") -> str:
                nm = m.group(1)
                try:
                    v = parser._name(nm)
                except Exception:
                    return nm
                if isinstance(v, Column):
                    cn = _plain_col_name(v)
                    if cn:
                        return cn
                elif isinstance(v, str):
                    return "'" + v.replace("'", "''") + "'"
                elif isinstance(v, (int, float)) \
                        and not isinstance(v, bool):
                    return repr(v)
                return nm
            return F.expr(re.sub(r"\$(\w+)", subv, code))
        bind = {}
        for m in re.finditer(r"\$(\w+)", code):
            nm = m.group(1)
            if nm != "self" and nm in parser.env \
                    and isinstance(parser.env[nm], Table):
                bind[nm] = parser.env[nm]
        # the declared result type names the columns a $self recursion
        # exposes (reference SQL(list[int], ...) recursions reference
        # `bfs.item`; SQL(node, ...) references the table's columns)
        self_cols = None
        if isinstance(ty, _ListCastRef):
            self_cols = ["item"]
        elif isinstance(ty, Table):
            self_cols = list(ty.df.columns)
        out = parser.engine.sql(code, _self_columns=self_cols, **bind)
        if tyname in ("int", "float", "string", "bool", "number"):
            # declared-scalar SQL outside a row context localizes to
            # one value (reference SQL(int, "SELECT COUNT(*) ...") ==
            # 9, test_SQL2 test_basic.py:507-513) — a bounded
            # single-row collect, like whole-table aggregates
            rows = out.df.limit(1).collect()
            return rows[0][0] if rows else None
        if isinstance(ty, _ListCastRef) and len(out.df.columns) == 1 \
                and out.df.columns != ["item"]:
            out = parser.engine.from_df(out.df.toDF("item"))
        return out

    if name == "fmt":
        # fmt("$var text") interpolation (pql_functions.py:132-169):
        # $names resolve in the current evaluation context and the
        # template compiles to one concat expression
        template = args[0]
        if not isinstance(template, str):
            raise TypeError("fmt() takes a string literal")
        parts, pos = [], 0
        for m in re.finditer(r"\$(\w+)", template):
            if m.start() > pos:
                parts.append(F.lit(template[pos:m.start()]))
            parts.append(parser._col(parser._name(m.group(1)))
                         .cast("string"))
            pos = m.end()
        if pos < len(template):
            parts.append(F.lit(template[pos:]))
        return F.concat(*parts) if parts else F.lit("")

    if name in _TABLE_FUNCS:
        if name in _PIPELINE_FUNC_NAMES:
            return _call_pipeline_func(name, list(args), dict(kwargs))
        # arity gate: the branches below index positionally — a bare
        # `limit()` must be a clean TypeError signal, not IndexError
        # (found by the parser fuzzer, tests/test_lang.py)
        _min_args = {"distinct": 1, "enum": 1, "describe": 1,
                     "limit": 2, "temptable": 1, "one": 1, "page": 3,
                     "is_empty": 1, "sample_ratio_fast": 2,
                     "sample_fast": 2, "limit_offset": 3,
                     "zipjoin": 2, "zipjoin_left": 2,
                     "zipjoin_longest": 2, "map_range": 3}
        need = _min_args.get(name, 0)
        if len(args) < need:
            raise LangSignal(
                "TypeError", f"{name}() takes at least {need} "
                f"argument(s), got {len(args)}")
        if name in ("join", "leftjoin", "outerjoin", "joinall"):
            tables = {k: (v.table if isinstance(v, _JoinColRef) else v)
                      for k, v in kwargs.items()
                      if isinstance(v, (Table, _JoinColRef))}
            on = kwargs.get("on")
            # join-by-column spelling: equate consecutive column
            # operands (reference join(a: t1.x, b: t2.y) ⇒ x == y);
            # for k-way chains each step joins the new operand to the
            # previous one (test_basic.py test_triple_join)
            refs = [(k, v.col) for k, v in kwargs.items()
                    if isinstance(v, _JoinColRef)]
            if on is None and len(refs) >= 2 and len(refs) == len(tables):
                on = [F.col(f"{a}.{ca}") == F.col(f"{b}.{cb}")
                      for (a, ca), (b, cb) in zip(refs, refs[1:])]
                if len(on) == 1:
                    on = on[0]
            f = {"join": tbl.join, "leftjoin": tbl.leftjoin,
                 "outerjoin": tbl.outerjoin}.get(name)
            if name == "joinall":
                return tbl.joinall(**tables)
            return f(on=on, **tables)
        if name == "distinct":
            return args[0].distinct()
        if name == "enum":
            return args[0].enum()
        if name == "describe":
            return args[0].describe()
        if name == "limit":
            return args[0].limit(args[1])
        if name == "temptable":
            # reference temptable creates its own counting id field
            # (pql_functions.py:327-343); distributed id assignment
            # (per-partition offsets, no global window)
            t = args[0]
            if "id" not in t.df.columns:
                from preql_spark.sources.mutable import _assign_ids
                t = t._with(_assign_ids(t.df, "id", base=1))
            return t.cache()
        if name == "one":
            return args[0].one()
        if name == "page":
            return args[0].page(args[1], args[2])
        if name == "is_empty":
            return args[0].is_empty()
        if name == "sample_ratio_fast":
            return args[0].sample_ratio(args[1])
        if name == "sample_fast":
            return args[0].sample_n(args[1])
        if name == "limit_offset":
            return args[0].slice(args[2], args[2] + args[1])
        if name in ("zipjoin", "zipjoin_left", "zipjoin_longest"):
            # positional join family (__builtins__.pql:167-257)
            how = {"zipjoin": "inner", "zipjoin_left": "left",
                   "zipjoin_longest": "longest"}[name]
            return tbl.zipjoin(args[0], args[1], how=how)
        if name == "map_range":
            # map_range(tbl, start, end) — bounds are ints or functions
            # applied per row to the single column; a function END is
            # INCLUSIVE (__builtins__.pql:592-650:
            # map_range(["a","ab"], 1, length) → 3 rows)
            t = args[0]

            def _bound(x, inclusive=False):
                if isinstance(x, _FuncRef) and x.name in _SCALAR_MAP:
                    if len(t.df.columns) != 1:
                        raise LangSignal(
                            "TypeError", "function bound needs a 1-column table")
                    c = _SCALAR_MAP[x.name](t.df[t.df.columns[0]])
                    return c + 1 if inclusive else c
                return x
            return t.map_range(_bound(args[1]),
                               _bound(args[2], inclusive=True))

    if name == "columns":
        # `columns(t)` → {column_name: column_type} (reference
        # pql_columns — pql_functions.py:653-665); `count()` of the
        # result is the column count (test_basic.py test_bare_table)
        t = args[0]
        if not isinstance(t, Table):
            raise LangSignal("TypeError", "columns() expects a table")
        return dict(t.df.dtypes)

    col = None
    if args and isinstance(args[0], dict):
        if name == "count":
            return len(args[0])
    if args and isinstance(args[0], Table):
        t = args[0]
        if name == "count":
            return t.count()
        if name == "list":
            # reference list(t) — localize a 1-column table
            # (pql_functions.py, cast table→list)
            if len(t.df.columns) != 1:
                raise TypeError("list() expects a 1-column table")
            return [r[0] for r in t.df.collect()]
        if len(t.df.columns) != 1:
            raise TypeError(f"{name}() on multi-column table")
        # whole-table aggregate → scalar via a 1-row frame
        c = t.df[t.df.columns[0]]
        out = t.df.agg(_AGG_MAP[name](c).alias("value")).collect()[0].value
        return out
    if args:
        col = parser._col(args[0])
    if name == "count":
        parser._agg_seen = True
        if col is None:
            return F.count(F.lit(1))
        # row-context count of an ARRAY column is its length
        # (reference count also measures struct size / json-array
        # length, pql_functions.py:280-324):
        # [..]{k => item}{count(item)} counts each group's values
        if parser.table is not None and not parser.in_agg:
            try:
                from pyspark.sql.types import ArrayType
                dt = parser.table.df.select(col).schema[0].dataType
                if isinstance(dt, ArrayType):
                    return F.size(col)
            except Exception:
                pass
        return agg.count(col)
    if name in _AGG_MAP:
        parser._agg_seen = True
        return _AGG_MAP[name](col)
    if name in _SCALAR_MAP:
        return _SCALAR_MAP[name](*[parser._col(a) if isinstance(a, Column)
                                   else a for a in args])
    raise NameError(f"unknown function {name!r}")


def _make_maps():
    from preql_spark.functions import aggregate as agg
    from preql_spark.functions import scalar as s
    agg_map = {
        "sum": agg.sum_, "mean": agg.mean, "avg": agg.mean,
        "min": agg.min_, "max": agg.max_, "stddev": agg.stddev,
        "first": agg.first, "first_or_null": agg.first_or_null,
        "count_distinct": agg.count_distinct,
        "count_true": agg.count_true, "count_false": agg.count_false,
        "median": agg.median, "list_median": agg.median,
        "product": agg.product,
        "approx_product": agg.approx_product,
        "approx_count_distinct": agg.approx_count_distinct,
    }
    scalar_map = {
        "lower": s.lower, "upper": s.upper, "length": s.length,
        "repeat": lambda c, n: s.repeat(c, n),
        "char": s.char, "char_ord": s.char_ord,
        "round": lambda c, p=0: s.round_(c, p if isinstance(p, int) else 0),
        "str_contains": lambda sub, c: s.str_contains(sub, c),
        "str_index": lambda sub, c: s.str_index(sub, c),
        "int": s.to_int, "float": s.to_float, "string": s.to_string,
        "bool": s.to_bool,
        # timestamp(x) cast — resolves as a cast function first, as a
        # type name in isa()/type() via _FuncRef (like int/float)
        "timestamp": lambda c:
            (c if isinstance(c, Column) else F.lit(c)).cast("timestamp"),
        "now": lambda: s.now(), "random": lambda: s.random(),
        "char_range": s.char_range,
        "str_notcontains": lambda sub, c: s.str_notcontains(sub, c),
        "pi": lambda: F.lit(__import__("math").pi),
        # date-part function forms (__builtins__.pql:347-353; the
        # property forms x.year etc. are the same kernels)
        "year": s.dt_year, "month": s.dt_month, "day": s.dt_day,
        "hour": s.dt_hour, "minute": s.dt_minute,
        "day_of_week": s.dt_day_of_week,
        "week_of_year": s.dt_week_of_year,
    }
    # beyond-reference: per-row text-pipeline kernels as lang scalars
    # (token counting, language id, fingerprinting, PII redaction)
    from preql_spark.operators import text as _t
    scalar_map.update({
        "token_count": _t.token_count,
        "bpe_token_count": _t.bpe_ish_token_count,
        "lang_id": _t.lang_id,
        "fingerprint": _t.fingerprint64,
        "redact_pii": _t.redact_pii,
        "normalize_text": _t.normalize_text,
        "strip_short_lines": _t.strip_short_lines,
        "strip_repeated_units": _t.strip_repeated_units,
        "host_of": _t.host_of,
        "canonicalize_url": _t.canonicalize_url,
        "bpe_merge_pair": _t.bpe_merge_pair,
    })
    return agg_map, scalar_map


_AGG_MAP, _SCALAR_MAP = _make_maps()
_FUNCTIONS = set(_AGG_MAP) | set(_SCALAR_MAP) | {
    "count", "fmt", "list", "isa", "issubclass", "type", "repr", "SQL",
    "names", "dir", "help", "tables", "serve_rest",
    # session/DDL control + row constructor (__builtins__.pql)
    "dict", "commit", "rollback", "run_statement",
    "remove_table", "remove_table_if_exists",
    "import_csv", "import_json", "import_table", "columns",
    # escape hatches / set-op function spellings / environment
    # introspection (pql_functions.py:43-73,125-130,351-417,820-828)
    "cast", "table_concat", "table_union", "table_intersect",
    "table_substract", "table_subtract", "table_add_index",
    "env_vars", "get_db_type",
    "force_eval",
    "inspect_sql", "PY", "debug", "breakpoint",
    "exit", "connect", "get_qualified_name", "set_setting",
    "set_active_dataset"}
# bare type names usable as values (isa/issubclass/type comparisons);
# int/float/string/bool resolve to cast functions first and are
# accepted by _as_type_name via their _FuncRef name
_TYPE_NAMES = {"number", "table", "any", "nulltype", "timestamp",
               "text"}
_TABLE_FUNCS = {"join", "leftjoin", "outerjoin", "joinall", "distinct",
                "enum", "describe", "limit", "temptable", "one",
                "page", "is_empty", "sample_ratio_fast", "sample_fast",
                "limit_offset", "zipjoin", "zipjoin_left",
                "zipjoin_longest", "map_range"}


# ---- LLM-pipeline operators as first-class lang builtins -------------------
# Beyond-reference surface: the training-data operators
# (preql_spark.operators.*) exposed directly in the query language,
# so a lang user composes curation pipelines without dropping to the
# Python API — e.g.
#   dedup_exact(documents, "doc_id")[lang == "en"]
#   minhash_pairs(documents, "doc_id", threshold: 0.9)
#   decontaminate(train, holdout, "doc_id")
# Dispatch is generic: Table operands unwrap to DataFrames, scalar
# literals pass through, a DataFrame result re-wraps on the first
# table operand (keeping its engine binding).  Loaded lazily to keep
# lang import-time free of the operator modules.

def _load_pipeline_funcs() -> dict:
    from preql_spark.operators import (cluster, dedup, events, fuzzy,
                                       graph, similarity, sketch, text,
                                       topk)

    def _funnel(df, steps, within=None, user_col="user_id",
                ts_col="ts", type_col="event_type"):
        # lang has no list literals — steps ride as one
        # space-separated string ("view click purchase")
        st = steps.split() if isinstance(steps, str) else list(steps)
        return events.funnel(
            df, st, user_col, ts_col, type_col,
            within_seconds=None if within is None else float(within))

    def _winsorize(df, group_col, value_col, p_lo=0.05, p_hi=0.95):
        return events.winsorize(df, [group_col], value_col,
                                float(p_lo), float(p_hi))

    def _ewma(df, group_col, ts_col, value_col, alpha,
              tie_col=None):
        return events.ewma(df, [group_col], ts_col, value_col,
                           float(alpha), tie_col)

    def _kmeans_assign(df, k=8, iters=2):
        return cluster.kmeans(df, k=int(k), iters=int(iters))[0]

    def _rrf_fuse(a, b, k=10, rrf_k=60, id_col="doc_id",
                  w1=1.0, w2=1.0):
        # lang has no list literals — the two-source weighted form
        # covers the lexical+dense case; Python callers pass lists
        return text.rrf_fuse([a, b], k=int(k), rrf_k=int(rrf_k),
                             id_col=id_col,
                             weights=[float(w1), float(w2)])

    def _quantile_rollup(df, group_col, value_col, q1=0.5, q2=0.9,
                         approx=False):
        return sketch.quantile_rollup(df, group_col, value_col,
                                      [float(q1), float(q2)],
                                      approx=bool(approx))

    def _pq_topk(corpus, queries, k=10, m=8, ksub=16,
                 id_col="vec_id", vec_col="embedding"):
        # dim from one bounded row — the codebook build collects
        # ksub rows anyway, so this adds no new scale hazard
        first = corpus.select(vec_col).first()
        dim = len(first[0]) if first else 0
        cb = similarity.pq_codebook(corpus, dim=dim, m=int(m),
                                    ksub=int(ksub), id_col=id_col,
                                    vec_col=vec_col)
        enc = similarity.pq_encode(corpus, cb, id_col=id_col,
                                   vec_col=vec_col, method="arrow")
        return similarity.pq_adc_topk(enc, queries, cb, k=int(k),
                                      id_col=id_col, vec_col=vec_col)

    return {
        # dedup family
        "dedup_exact": dedup.dedup_exact,
        "chunk_dedup": dedup.chunk_dedup,
        "line_dedup": dedup.line_dedup,
        "minhash_pairs": dedup.minhash_lsh_pairs,
        "simhash_pairs": dedup.simhash_pairs,
        "ngram_jaccard_pairs": dedup.ngram_jaccard_pairs,
        "ngram_containment_pairs": dedup.ngram_containment_pairs,
        "connected_components": dedup.connected_components,
        "cluster_size_histogram": dedup.cluster_size_histogram,
        "dedup_canonical": dedup.dedup_keep_canonical,
        "dedup_keep_best":
            lambda df, pairs, id_col, *order:
                dedup.dedup_keep_best(df, pairs, id_col,
                                      [_order_spec(o) for o in order]),
        "leakage_safe_split": dedup.leakage_safe_split,
        "decontaminate": dedup.decontaminate,
        "contaminated_ids": dedup.contaminated_ids,
        "corpus_overlap": dedup.corpus_overlap,
        "duplicate_spans": dedup.duplicate_spans,
        "remove_duplicate_spans": dedup.remove_duplicate_spans,
        "scrub_contaminated_spans": dedup.scrub_contaminated_spans,
        # text analysis / curation
        "quality_metrics": text.quality_metrics,
        # quasi columns as varargs strings (a lang [..] literal is a
        # one-column TABLE, reference semantics — not a Python list)
        "concentration":
            lambda df, group_col, key_col, weight="1":
                text.concentration(df, [group_col], key_col, weight),
        "pii_counts":
            lambda df, group_col, text_col="text":
                text.pii_counts(df, [group_col], text_col),
        "k_anonymity_filter":
            lambda df, *quasi, k=5, count_col=None:
                text.k_anonymity_filter(df, list(quasi), int(k),
                                        count_col),
        "repetition_metrics": text.repetition_metrics,
        "gopher_quality_gate":
            lambda df, id_col="doc_id", min_words=50, min_stop_words=2:
                text.gopher_quality_gate(
                    df, id_col=id_col, min_words=int(min_words),
                    min_stop_words=int(min_stop_words)),
        "c4_clean":
            lambda df, id_col="doc_id", min_words_per_line=5,
            min_sentences=3:
                text.c4_clean(
                    df, id_col=id_col,
                    min_words_per_line=int(min_words_per_line),
                    min_sentences=int(min_sentences)),
        # model-scored gate: the lang surface exposes the graded FAKE
        # scorer path (a real model is a Python-side callable)
        "classifier_gate":
            lambda df, id_col="doc_id", threshold=0.5:
                text.classifier_gate(df, id_col=id_col,
                                     threshold=float(threshold)),
        # text→embedding hook: the lang surface exposes the graded
        # FAKE embedder path (a real model is a Python-side callable)
        "embed_text":
            lambda df, id_col="doc_id", text_col="text", dim=16:
                text.embed_text(df, id_col=id_col, text_col=text_col,
                                dim=int(dim)),
        "tfidf": text.tf_idf,
        "bm25": text.bm25,
        "lm_perplexity": text.lm_perplexity,
        "quantile_filter": text.quantile_filter,
        "quantile_bucketize": text.quantile_bucketize,
        "corpus_datacard": text.corpus_datacard,
        "postings": text.postings,
        "budget_select": text.budget_select,
        "adjacent_pair_counts":
            lambda df, k=None: text.adjacent_pair_counts(
                df, k=None if k is None else int(k)),
        "ngram_diversity":
            lambda df, n=2, group_col="source":
                text.ngram_diversity(df, int(n), group_col),
        "token_entropy":
            lambda df, group_col="source", text_col="text":
                text.token_entropy(df, group_col, text_col),
        "phrase_search": text.phrase_search,
        "ranked_search": text.ranked_search,
        "hybrid_search": text.hybrid_search,
        # similarity / embeddings
        "cosine_topk": similarity.cosine_topk,
        "cosine_topk_arrow": similarity.cosine_topk_arrow,
        "cosine_pairs": similarity.cosine_pairs,
        "lsh_cosine_pairs": similarity.lsh_cosine_pairs_exact,
        "normalize_vectors": similarity.normalize_vectors,
        "random_project": similarity.random_project,
        "frequent_items": sketch.frequent_items,
        "quantile_rollup": _quantile_rollup,
        "quantile_sketch":
            lambda df, group_col, value_col, q1=0.5, q2=0.9,
            delta=100.0:
                sketch.tdigest_quantiles(
                    sketch.tdigest(df, [group_col], value_col,
                                   float(delta)),
                    [group_col], (float(q1), float(q2))),
        "rrf_fuse": _rrf_fuse,
        "mmr_diversify": similarity.mmr_diversify,
        "topk_per_group": topk.topk_per_group,
        "quantize_int8": similarity.quantize_int8,
        "centroid_agg": similarity.centroid_agg,
        "semdedup": cluster.semdedup,
        "kmeans_assign": _kmeans_assign,
        "pq_topk": _pq_topk,
        # event analytics / fuzzy matching
        "funnel": _funnel,
        "funnel_times":
            lambda df, steps, within=None:
                events.funnel_times(
                    df, steps.split() if isinstance(steps, str)
                    else list(steps),
                    within_seconds=None if within is None
                    else float(within)),
        "rfm_scores":
            lambda df, n_tiles=5:
                events.rfm_scores(df, n_tiles=int(n_tiles)),
        "cohort_retention":
            lambda df, user_col="user_id", ts_col="ts", period_days=7:
                events.cohort_retention(df, user_col, ts_col,
                                        int(period_days)),
        "transition_counts": events.transition_counts,
        "winsorize": _winsorize,
        "ewma": _ewma,
        "fuzzy_pairs":
            lambda df, id_col, str_col, max_dist, q=2:
                fuzzy.fuzzy_pairs(df, id_col, str_col,
                                  int(max_dist), q=int(q)),
        "pagerank":
            lambda df, iters=10, src="src", dst="dst",
            weight_col=None, dangling="drop":
                graph.pagerank(df, int(iters), src, dst,
                               weight_col=weight_col,
                               dangling=dangling),
        "degree_assortativity":
            lambda df, src="src", dst="dst":
                graph.degree_assortativity(df, src, dst),
        "hits":
            lambda df, iters=5, src="src", dst="dst":
                graph.hits(df, int(iters), src, dst),
        "shortest_paths":
            lambda df, sources, max_rounds=20, weight_col=None:
                graph.shortest_paths(df, sources, int(max_rounds),
                                     weight_col=weight_col),
        "trend":
            lambda df, group_col, ts_col="ts", value_col="value",
            origin="1970-01-01":
                events.trend(df, [group_col], ts_col, value_col,
                             origin),
        "mad_outliers":
            lambda df, group_col, value_col="value", k=3.0:
                events.mad_outliers(df, [group_col], value_col,
                                    float(k)),
        "quantile_normalize":
            lambda df, group_col, value_col="value", out_col="qn":
                events.quantile_normalize(df, [group_col], value_col,
                                          out_col),
        "rolling_anomalies":
            lambda df, group_col, ts_col="ts", value_col="value",
            window=50, k=3.0, min_periods=5, tie_col=None:
                events.rolling_anomalies(
                    df, [group_col], ts_col, value_col, int(window),
                    float(k), int(min_periods), tie_col),
        "session_paths":
            lambda df, gap_seconds=1800.0, k=20:
                events.session_paths(
                    df, gap_seconds=float(gap_seconds),
                    k=None if k is None else int(k)),
        "ks_drift":
            lambda df, value_col, side_col, side_a, side_b,
            quantize_to=None:
                events.ks_statistic(df, value_col, side_col,
                                    side_a, side_b,
                                    quantize_to=quantize_to),
        "ab_test":
            lambda df, side_col, side_a, side_b, success:
                events.ab_test(df, side_col, side_a, side_b,
                               success),
        "psi_drift":
            lambda df, value_col, side_col, side_a, side_b,
            n_buckets=10:
                events.psi(df, value_col, side_col, side_a, side_b,
                           int(n_buckets)),
        "mann_whitney":
            lambda df, value_col, side_col, side_a, side_b,
            quantize_to=None:
                events.mann_whitney(df, value_col, side_col,
                                    side_a, side_b,
                                    quantize_to=quantize_to),
        "chi_square":
            lambda df, col_a, col_b:
                events.chi_square(df, col_a, col_b),
        "z_outliers":
            lambda df, group_col, value_col="value", k=3.0:
                events.z_outliers(df, group_col, value_col,
                                  float(k)),
        "triangle_count":
            lambda df, src="src", dst="dst":
                graph.triangle_count(df, src, dst),
    }


_PIPELINE_FUNC_NAMES = {
    "dedup_exact", "chunk_dedup", "line_dedup", "minhash_pairs",
    "simhash_pairs", "ngram_jaccard_pairs", "ngram_containment_pairs",
    "connected_components", "cluster_size_histogram",
    "leakage_safe_split", "dedup_keep_best",
    "dedup_canonical", "decontaminate", "contaminated_ids",
    "corpus_overlap", "duplicate_spans", "remove_duplicate_spans",
    "scrub_contaminated_spans",
    "pq_topk",
    "quality_metrics", "repetition_metrics", "k_anonymity_filter",
    "concentration", "pii_counts", "gopher_quality_gate", "c4_clean",
    "classifier_gate", "embed_text",
    "tfidf", "bm25", "lm_perplexity", "quantile_filter",
    "quantile_bucketize", "corpus_datacard", "postings",
    "budget_select", "adjacent_pair_counts", "ngram_diversity",
    "token_entropy",
    "phrase_search", "ranked_search", "hybrid_search", "cosine_topk",
    "cosine_topk_arrow",
    "cosine_pairs", "lsh_cosine_pairs", "normalize_vectors",
    "random_project", "frequent_items", "quantile_rollup",
    "quantile_sketch",
    "rrf_fuse", "mmr_diversify", "topk_per_group",
    "quantize_int8", "centroid_agg", "semdedup", "kmeans_assign",
    "funnel", "funnel_times", "rfm_scores", "cohort_retention",
    "transition_counts", "winsorize", "ewma", "fuzzy_pairs",
    "pagerank", "trend", "mad_outliers", "quantile_normalize",
    "rolling_anomalies", "session_paths", "ks_drift",
    "ab_test", "triangle_count", "psi_drift", "mann_whitney",
    "chi_square", "z_outliers",
    "degree_assortativity", "hits", "shortest_paths",
    # Table-method family (dispatched on the host Table, not its df)
    "sample_hash", "sample_mixture", "sample_stratified",
    "sample_weighted", "split_by_hash", "shuffle_deterministic",
    "temperature_mixture", "interleave_sources", "cap_per_domain"}
_PIPELINE_FUNCS: dict | None = None


def _order_spec(spec):
    """'^col' -> desc, 'col' -> asc — the lang's order-key spelling
    reused for cap_per_domain's order_by argument."""
    if isinstance(spec, str):
        return (F.col(spec[1:]).desc() if spec.startswith("^")
                else F.col(spec))
    return spec


def _load_table_method_funcs() -> dict:
    """Sampling / splitting / balancing operators that live as Table
    methods — each adapter receives the host TABLE (first argument)
    plus evaluated scalars/dicts (lang ``dict(a: 1, ...)`` builds the
    ratio mappings):

      sample_hash(t, "doc_id", 0.1)
      split_by_hash(t, "doc_id", dict(train: 0.9, valid: 0.05,
                                      test: 0.05))
      sample_mixture(t, "source", dict(src0: 1.0, src1: 0.5), "doc_id")
      cap_per_domain(t, "source", 10, "^n_chars", "doc_id")
    """
    from preql_spark.operators.text import cap_per_domain

    return {
        "sample_hash":
            lambda t, key, ratio: t.sample_hash(key, float(ratio)),
        "sample_mixture":
            lambda t, group, ratios, key:
                t.sample_mixture(group, ratios, key=key),
        "sample_stratified":
            lambda t, key, strata, ratios, default=0.0:
                t.sample_stratified(key, strata, ratios,
                                    default=float(default)),
        "sample_weighted":
            lambda t, key, weight, n:
                t.sample_weighted(key, weight, int(n)),
        "split_by_hash":
            lambda t, key, splits, label="split":
                t.split_by_hash(key, splits, label=label),
        "shuffle_deterministic":
            lambda t, key, seed=0:
                t.shuffle_deterministic(key, seed=int(seed)),
        "temperature_mixture":
            lambda t, group, key, target_rows, alpha=0.5:
                t.temperature_mixture(group, key, int(target_rows),
                                      alpha=float(alpha)),
        "interleave_sources":
            lambda t, group, key:
                t.interleave_sources(group, key),
        "cap_per_domain":
            lambda t, group, n, *order:
                t.pipe(cap_per_domain, group, int(n),
                       [_order_spec(o) for o in order] or None),
    }


_TABLE_METHOD_FUNC_NAMES = {
    "sample_hash", "sample_mixture", "sample_stratified",
    "sample_weighted", "split_by_hash", "shuffle_deterministic",
    "temperature_mixture", "interleave_sources", "cap_per_domain"}
_TABLE_METHOD_FUNCS: dict | None = None


def _call_pipeline_func(name: str, args: list, kwargs: dict):
    global _TABLE_METHOD_FUNCS
    if name in _TABLE_METHOD_FUNC_NAMES:
        if _TABLE_METHOD_FUNCS is None:
            _TABLE_METHOD_FUNCS = _load_table_method_funcs()
        if not args or not isinstance(args[0], Table):
            raise LangSignal(
                "TypeError", f"{name}() takes a table first")
        return _TABLE_METHOD_FUNCS[name](*args, **kwargs)
    global _PIPELINE_FUNCS
    if _PIPELINE_FUNCS is None:
        _PIPELINE_FUNCS = _load_pipeline_funcs()
    fn = _PIPELINE_FUNCS[name]
    host = next((a for a in list(args) + list(kwargs.values())
                 if isinstance(a, Table)), None)
    if host is None:
        raise LangSignal(
            "TypeError", f"{name}() takes at least one table")

    def unwrap(v):
        return v.df if isinstance(v, Table) else v

    out = fn(*[unwrap(a) for a in args],
             **{k: unwrap(v) for k, v in kwargs.items()})
    from pyspark.sql import DataFrame as _DF
    return host._with(out) if isinstance(out, _DF) else out


_TABLE_FUNCS = _TABLE_FUNCS | _PIPELINE_FUNC_NAMES


def q(engine, src: str, **env):
    """Compile and evaluate a Preql-syntax query against the engine's
    catalog.  Returns a Table, Column, or Python scalar."""
    return Parser(engine, src, env).parse()
