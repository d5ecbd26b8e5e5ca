"""Table display — the engine analogue of the reference's rich/html
renderer (``preql/core/display.py``, 312 LoC: ``table_repr``,
``_rich_table``, ``_html_table``, ``_preview_table``, ``table_more``).

Everything here is bounded for 100 TB tables: a cell is one Spark
action, a collect of the ``size + 1`` preview rows after ``offset``.
Fewer than ``size + 1`` rows back means the count is exact, so the
row count over ``limit(MAX_AUTO_COUNT)`` (reference ``MAX_AUTO_COUNT``
/ ``count_str``, rendered ``>=N`` when it saturates) runs only when
the preview saturates, and nothing ever collects an unbounded result.
Dependency-free: text tables are drawn with box characters, HTML
mirrors the reference's ``preql_table`` markup for notebooks
(``Table._repr_html_`` hooks it into Jupyter).
"""

from __future__ import annotations

import datetime
import html as _html

MAX_AUTO_COUNT = 10_000
PREVIEW_SHELL = 16           # reference TABLE_PREVIEW_SIZE_SHELL
PREVIEW_HTML = 64            # reference TABLE_PREVIEW_SIZE_HTML


def repr_value(v) -> str:
    """Scalar rendering per the reference ``pql_repr`` dispatch:
    strings quoted, bools ``true``/``false``, null ``-`` in cells."""
    if v is None:
        return "-"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, float):
        return f"{v:g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat(sep=" ") if isinstance(v, datetime.datetime) \
            else v.isoformat()
    return str(v)


def bounded_count(table) -> tuple[int, str]:
    """Count with a ceiling — ``=N`` exact below MAX_AUTO_COUNT,
    ``>=N`` at the ceiling (reference table_repr count_str; a display
    must never full-scan a 100 TB table just for its footer)."""
    n = table.df.limit(MAX_AUTO_COUNT).count()
    return n, (f">={n}" if n == MAX_AUTO_COUNT else f"={n}")


def preview_rows(table, size: int, offset: int = 0) -> list[dict]:
    """Reference ``_preview_table``: ``size`` rows starting at
    ``offset`` as plain dicts."""
    if size == 0:
        return []
    if size < 0:
        raise ValueError("Table preview size cannot be negative")
    df = table.df.offset(offset) if offset else table.df
    return [r.asDict() for r in df.limit(size).collect()]


def _header(name: str, count_str: str, offset: int) -> str:
    head = "table "
    if name:
        head += name
    if offset:
        head += f"[{offset}..]"
    return f"{head} {count_str}"


def text_table(name: str, count_str: str, rows: list[dict],
               offset: int = 0, has_more: bool = False) -> str:
    """Reference ``_rich_table`` shape without the rich dependency:
    header line, aligned columns (numbers right-justified), ``...``
    row when truncated."""
    head = _header(name, count_str, offset)
    if not rows:
        return head
    cols = list(rows[0])
    cells = [[repr_value(r[c]) for c in cols] for r in rows]
    if has_more:
        cells.append(["..." for _ in cols])
    widths = [max(len(c), *(len(row[i]) for row in cells))
              for i, c in enumerate(cols)]
    right = [isinstance(rows[0][c], (int, float))
             and not isinstance(rows[0][c], bool) for c in cols]

    def fmt(row):
        return " | ".join(v.rjust(w) if rj else v.ljust(w)
                          for v, w, rj in zip(row, widths, right))

    lines = [head, fmt(cols), "-+-".join("-" * w for w in widths)]
    lines += [fmt(row) for row in cells]
    return "\n".join(lines)


def html_table(name: str, count_str: str, rows: list[dict],
               offset: int = 0, has_more: bool = False) -> str:
    """Reference ``_html_table``: same markup (``preql_table`` class,
    header ``<pre>``, trailing ``...`` row), values escaped."""
    head = f"<pre>{_html.escape(_header(name, count_str, offset))}</pre>"
    if not rows:
        return head
    cols = list(rows[0])
    ths = "<tr>%s</tr>" % " ".join(f"<th>{_html.escape(c)}</th>"
                                   for c in cols)
    trs = ["<tr>%s</tr>" % " ".join(
        f"<td>{_html.escape(repr_value(r[c]))}</td>" for c in cols)
        for r in rows]
    if has_more:
        trs.append("<tr><td>...</td></tr>")
    style = ("<style> .preql_table td, .preql_table th "
             "{ text-align: left } </style>")
    return '%s<table class="preql_table">%s%s</table>%s' \
        % (head, ths, "\n".join(trs), style)


def table_repr(table, offset: int = 0, fmt: str = "text") -> str:
    """Reference ``table_repr``: preview + count + renderer dispatch
    (text | html), in one collect of ``size + 1`` rows.  The extra row
    tells a full page from the whole rest of the table: below it the
    count is ``offset + rows`` exactly, and :func:`bounded_count` runs
    only when the preview saturates, when nothing came back past a
    non-zero ``offset``, or when the count would reach
    ``MAX_AUTO_COUNT``."""
    size = PREVIEW_HTML if fmt == "html" else PREVIEW_SHELL
    rows = preview_rows(table, size + 1, offset)
    if (len(rows) > size or (offset and not rows)
            or offset + len(rows) >= MAX_AUTO_COUNT):
        rows = rows[:size]
        count, count_str = bounded_count(table)
    else:
        count = offset + len(rows)
        count_str = f"={count}"
    has_more = offset + len(rows) < count
    name = getattr(getattr(table, "meta", None), "name", "") or ""
    if name == "anon":
        name = ""
    f = html_table if fmt == "html" else text_table
    return f(name, count_str, rows, offset, has_more)


def table_inline_repr(table, size: int = PREVIEW_SHELL) -> str:
    """Reference ``table_inline_repr``: `[{...}, {...}]` one-liner."""
    rows = preview_rows(table, size)
    return "[%s]" % ", ".join(repr(r) for r in rows)
