"""The one place a DuckDB/Spark-SQL spelling difference lives.

A query module declares its SQL once, in ``TEMPLATES``, keyed like its
``QUERIES``. A value is one of:

- a plain string, which both engines run as is;
- a template ``def _x_sql(d: Dialect) -> str``, so an oracle and its
  Spark-SQL dual are written once and cannot drift apart;
- ``dual(oracle, spark=None)``: a deliberate dual (two texts that
  check one plan shape against another) or, with no ``spark``, an
  oracle-only query. Either side may be a zero-argument callable, so a
  fixture-backed oracle is built only when it is asked for.

``registry`` renders every ``TEMPLATES`` value with :meth:`Dialect.render`
on each call: ``DUCK`` gives the oracles, ``SPARK`` the Spark-SQL duals.
The DuckDB rendering is the oracle the driver executes, so every
``DUCK`` spelling below reproduces the oracle text byte for byte; the
``SPARK`` spelling is whatever Spark SQL needs for the same values and
types.

Spellings both engines accept are NOT routed through here: ``||``,
``x::BIGINT``, ``substr``, ``<<``, ``GROUP BY ALL``, ``JOIN ... ON
TRUE``, the table function ``range(lo, hi) t(c)`` in FROM, window
functions. sqlglot is not a dependency, so this stays a small
hand-kept table, not a transpiler.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass


#: DuckDB function -> the Spark SQL function of the same meaning
_SPARK_NAMES = {
    "array_to_string": "array_join",
    "epoch": "unix_seconds",
    "epoch_us": "unix_micros",
    "json_extract": "get_json_object",
    "len": "size",
    "list": "collect_list",
    "list_distinct": "array_distinct",
    "list_concat": "concat",
    "list_contains": "array_contains",
    "list_filter": "filter",
    "list_max": "array_max",
    "list_min": "array_min",
    "list_sort": "array_sort",
    "list_transform": "transform",
    "regexp_split_to_array": "split",
    "string_split": "split",
    "unnest": "explode",
}


@dataclass(frozen=True)
class Dialect:
    #: truncating integer division: ``a // b`` vs ``a div b``
    div: str
    #: the string type in a CAST
    varchar: str
    #: double literal suffix: Spark parses a bare ``1.5`` as DECIMAL
    D: str
    #: the column of the ``range(lo, hi)`` table function
    range_col: str

    @property
    def duck(self) -> bool:
        return self is DUCK

    @property
    def materialized(self) -> str:
        """The CTE hint that makes DuckDB evaluate a CTE once."""
        return " MATERIALIZED" if self.duck else ""

    def idiv(self, a, b) -> str:
        """Truncating integer division."""
        return f"{a} {self.div} {b}"

    def backref(self, n: int) -> str:
        """Group ``n`` in a regexp_replace replacement."""
        return f"\\{n}" if self.duck else f"${n}"

    def list(self, items: str) -> str:
        """A list literal from comma-joined items."""
        return f"[{items}]" if self.duck else f"array({items})"

    def comp(self, body: str, var: str, lst: str, brk: str = " ") -> str:
        """Map ``body`` over ``lst`` as a comprehension / transform;
        ``brk`` is the oracle's spacing before ``for``."""
        return f"[{body}{brk}for {var} in {lst}]" if self.duck else f"transform({lst}, {var} -> {body})"

    def list_sum(self, lst: str, zero: str = "0D") -> str:
        """Sum of a numeric list; ``zero`` types Spark's fold (``0D`` for
        doubles, ``0L`` for integers)."""
        return f"list_sum({lst})" if self.duck else f"aggregate({lst}, {zero}, (acc, y) -> acc + y)"

    def zip_sum(self, a: str, b: str, n: int, term: str = "{x} * {y}", zero: str = "0D") -> str:
        """Sum over i = 1..n of ``term`` of the i-th elements of two
        n-element lists (``{x}``/``{y}``): DuckDB's indexed
        comprehension, Spark's ``zip_with`` fold (same left-to-right
        order, so the same double)."""
        if self.duck:
            return self.list_sum(self.comp(term.format(x=f"{a}[i]", y=f"{b}[i]"), "i", self.seq(1, n + 1)))
        return self.list_sum(f"zip_with({a}, {b}, (x, y) -> {term.format(x='x', y='y')})", zero)

    def unnest_zip(self, *cols: tuple[str, str]) -> str:
        """Unnest equal-length lists in lockstep, one ``(list, alias)``
        pair each (Spark allows one generator per SELECT)."""
        if self.duck:
            return ", ".join(f"unnest({lst}) AS {name}" for lst, name in cols)
        lists = ", ".join(lst for lst, _ in cols)
        return f"inline(arrays_zip({lists})) AS ({', '.join(name for _, name in cols)})"

    def seq(self, lo, hi) -> str:
        """The list ``lo, lo + 1, ..., hi - 1``: DuckDB's ``range``, empty
        when ``hi <= lo``. Spark's ``sequence`` counts down there, so a
        bound known only at run time is guarded — Catalyst may evaluate
        it on rows a WHERE has not yet removed."""
        if self.duck:
            return f"range({lo}, {hi})"
        if isinstance(lo, int) and isinstance(hi, int):
            return f"sequence({lo}, {hi - 1})"
        return f"IF({hi} > {lo}, sequence({lo}, {hi} - 1), array())"

    def generate_series(self, lo: int, hi: int) -> str:
        """The table function of ``lo..hi`` (inclusive), one row each."""
        return f"generate_series({lo}, {hi})" if self.duck else f"range({lo}, {hi + 1})"

    def at(self, lst: str, i) -> str:
        """1-based element ``i`` of a list."""
        if self.duck:
            return f"{lst}[{i}]"
        return f"{lst}[{i - 1}]" if isinstance(i, int) else f"element_at({lst}, {i})"

    def slice(self, lst: str, lo, hi, n, sep: str = ":") -> str:
        """1-based inclusive slice ``lo..hi`` (``n`` elements) of a list;
        ``sep`` is the oracle's spacing around the colon."""
        return f"{lst}[{lo}{sep}{hi}]" if self.duck else f"slice({lst}, {lo}, {n})"

    def string_agg(self, x: str, sep: str, order: str) -> str:
        """Ordered string aggregate of ``x`` (sorted by ``order``)."""
        if self.duck:
            return f"string_agg({x}, {sep} ORDER BY {order})"
        return f"string_agg({x}, {sep}) WITHIN GROUP (ORDER BY {order})"

    def str_slice(self, s: str, lo, hi, n, sep: str = ":") -> str:
        """1-based inclusive substring ``lo..hi`` (``n`` characters)."""
        return f"{s}[{lo}{sep}{hi}]" if self.duck else f"substr({s}, {lo}, {n})"

    def string_agg_list(self, lst: str, sep: str, gap: str = " ") -> str:
        """Concatenate a list of strings with ``sep`` between them."""
        return f"list_aggregate({lst},{gap}'string_agg', {sep})" if self.duck else f"array_join({lst}, {sep})"

    def list_slice(self, lst: str, lo, hi, n, sep: str = ", ") -> str:
        """``list_slice`` of ``lo..hi`` (``n`` elements), 1-based."""
        return f"list_slice({lst}, {lo}{sep}{hi})" if self.duck else f"slice({lst}, {lo}, {n})"

    def str_lit(self, s: str) -> str:
        """A string literal; Spark's parser unescapes backslashes."""
        return f"'{s}'" if self.duck else "'" + s.replace("\\", "\\\\") + "'"

    def regexp_replace_all(self, s: str, pat: str, rep: str, gap: str = ", ") -> str:
        """Replace every match (DuckDB replaces the first without 'g');
        ``gap`` is the oracle's spacing after ``s``."""
        tail = ", 'g'" if self.duck else ""
        return f"regexp_replace({s}{gap}{pat}, {rep}{tail})"

    def regexp_extract(self, s: str, pat: str) -> str:
        """The first whole match (Spark's default is group 1)."""
        return f"regexp_extract({s}, {pat})" if self.duck else f"regexp_extract({s}, {pat}, 0)"

    def regexp_extract_all(self, s: str, pat: str) -> str:
        """Every whole match (Spark's default is group 1)."""
        return f"regexp_extract_all({s}, {pat})" if self.duck else f"regexp_extract_all({s}, {pat}, 0)"

    def isodow(self, ts: str) -> str:
        """ISO day of week, 1 = Monday .. 7 = Sunday."""
        return f"isodow({ts})" if self.duck else f"(weekday({ts}) + 1)"

    def ymd(self, date: str) -> str:
        """A date formatted as ``YYYY-MM-DD``."""
        return f"strftime({date}, '%Y-%m-%d')" if self.duck else f"date_format({date}, 'yyyy-MM-dd')"

    def grouping(self, cols: str) -> str:
        """The multi-column GROUPING bitmask."""
        return f"GROUPING({cols})" if self.duck else f"grouping_id({cols})"

    def interval(self, n: int, unit: str) -> str:
        """The quantity of an ``INTERVAL`` literal (Spark quotes it)."""
        return f"{n} {unit}" if self.duck else f"'{n}' {unit}"

    def date_diff_days(self, start: str, end: str) -> str:
        """Whole days from ``start`` to ``end``."""
        return f"date_diff('day', {start}, {end})" if self.duck else f"datediff({end}, {start})"

    def qualify(self, query: str, cond: str) -> str:
        """``query`` keeping the rows where the window-derived ``cond``
        holds."""
        return f"{query} QUALIFY {cond}" if self.duck else f"SELECT * FROM ({query}) WHERE {cond}"

    def quantile_cont(self, x: str, q: float) -> str:
        """The interpolated ``q``-quantile aggregate."""
        return f"quantile_cont({x}, {q})" if self.duck else f"percentile({x}, {q}D)"

    def utf8_bytes(self, s: str) -> str:
        """The UTF-8 encoding of a string, as a blob."""
        return f"encode({s})" if self.duck else f"encode({s}, 'UTF-8')"

    def shr(self, a: str, n: str, gap: str = " ") -> str:
        """``a`` shifted right by ``n`` bits (Spark's parser rejects
        ``>>`` after a CASE in some positions); ``gap`` is the oracle's
        spacing before the operator."""
        return f"{a}{gap}>> {n}" if self.duck else f"shiftright({a}, {n})"

    def xor(self, a: str, b: str) -> str:
        """Bitwise exclusive or."""
        return f"xor({a}, {b})" if self.duck else f"({a} ^ {b})"

    def hex_bigint(self, hexstr: str) -> str:
        """A hex-digit string (at most 15 digits) as a BIGINT."""
        return f"('0x' || {hexstr})::BIGINT" if self.duck else f"cast(conv({hexstr}, 16, 10) as bigint)"

    def hex_cast(self, hexstr: str, typ: str) -> str:
        """A hex-digit string cast to ``typ`` by value."""
        return f"CAST(('0x' || {hexstr}) AS {typ})" if self.duck else f"cast(conv({hexstr}, 16, 10) AS {typ})"

    def cast_str(self, x: str) -> str:
        """``x`` cast to a string."""
        return f"CAST({x} AS {self.varchar})"

    def render(self, template: Template) -> str | None:
        """A ``TEMPLATES`` value's text in this dialect; ``None`` for an
        oracle-only query's Spark side."""
        return template if isinstance(template, str) else template(self)

    def fn(self, name: str, *args: str) -> str:
        """A call of the DuckDB function ``name``, renamed for Spark."""
        return f"{name if self.duck else _SPARK_NAMES[name]}({', '.join(args)})"


#: a ``TEMPLATES`` value: one text, or a text per dialect
Template = str | Callable[[Dialect], str | None]

DUCK = Dialect(div="//", varchar="VARCHAR", D="", range_col="range")
SPARK = Dialect(div="div", varchar="string", D="D", range_col="id")


def dual(oracle: str | Callable[[], str], spark: str | Callable[[], str] | None = None) -> Template:
    """A query whose oracle and Spark SQL are two texts (a deliberate
    dual), or only an oracle (``spark=None``); a callable side is
    called only when that side is rendered."""
    def template(d: Dialect) -> str | None:
        side = oracle if d.duck else spark
        return side() if callable(side) else side

    return template
