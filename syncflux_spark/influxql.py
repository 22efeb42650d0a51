"""InfluxQL 1.x front-end: parse the statement surface the reference
drives at InfluxDB and compile it onto this engine's DataFrame plans.

The reference never evaluates a query itself — it *emits* InfluxQL
strings over HTTP (`show databases` pkg/agent/client.go:161, `show
retention policies` client.go:188, `show measurements` client.go:273,
`show field keys` client.go:239, the `select * .. where time .. group
by *` scan pkg/agent/sync.go:162, and the DDL statements
client.go:84-156). A user switching from the reference therefore holds
InfluxQL text in their configs and dashboards; this module lets that
text run against Spark tables directly:

* metadata statements route to :class:`~syncflux_spark.catalog.SparkCatalog`
  (same SHOW result shapes InfluxDB returns);
* ``SELECT`` compiles to a declarative DataFrame plan — time-range
  predicates go through :func:`scan_time_range` so they reach the
  parquet scan as pushed range filters, ``GROUP BY time(iv)`` becomes
  a single hash aggregation on an integer bucket (partial agg before
  the one shuffle), ``fill(..)`` densifies via the same grid-join
  pattern as the downsample family (broadcast spine join, never a
  second fact scan, never a driver loop). Nothing here collects rows
  on the driver; at 100 TB the compiled plan is exactly the plan a
  hand-written DataFrame query would produce.

Aggregate semantics follow InfluxQL 1.8 docs: ``mean sum count min
max first last spread stddev median mode percentile(N) distinct
integral(unit) sample(N)``.
``percentile``/``median`` are nearest-rank (the value at position
``ceil(N/100 * n)`` of the sorted list — Influx returns an actual
field value, not an interpolation); ``mode`` ties break to the lowest
value; ``first``/``last`` take the value at min/max time with
value-order tiebreak (deterministic under concurrent points, which
InfluxDB leaves unspecified).

Grammar subset (everything syncflux emits + the common interactive
dialect): SELECT projections of fields / aggregate calls / binary
``+ - * /`` arithmetic over fields, literals, and aggregate results
(``mean("a") + mean("b")``, ``"value" * 2`` — null-propagating like
InfluxQL), the InfluxQL 1.8 scalar math functions (``abs acos asin
atan atan2 ceil cos exp floor ln log log2 log10 pow round sin sqrt
tan``) over raw fields, aggregate results, and WHERE operands — each
compiled to the matching JVM codegen expression, no UDF —
FROM one measurement (optionally ``db.rp.m``), a comma
list ``FROM m1, m2``, a ``/regex/``, or a subquery, WHERE with
time bounds (RFC3339 strings, epoch-ns integers, epoch-with-unit
literals like ``1755043200s``, ``now() - <duration>``), tag
equality / regex matches and field comparisons combined with
AND/OR, GROUP BY ``time(interval[,offset])``, tag names or ``*``,
``fill(null|none|0|<value>|previous|linear)``, ORDER BY time
[ASC|DESC], LIMIT/OFFSET, SLIMIT/SOFFSET, ``tz('<zone>')`` (local
bucket alignment, DST-aware via from_utc_timestamp), standalone
``SELECT ... INTO "dst"`` (one-shot downsample into a new queryable
measurement), plus SHOW DATABASES / RETENTION POLICIES /
MEASUREMENTS / FIELD KEYS / TAG KEYS (and the SHOW ... CARDINALITY
family as exact distributed counts), CREATE DATABASE, CREATE | ALTER
| DROP RETENTION POLICY, DELETE with time bounds + tag predicates,
and EXPLAIN [ANALYZE] answering with the compiled Spark plan.
"""

from __future__ import annotations

import re
import threading
import uuid
from dataclasses import dataclass, field as dc_field
from datetime import datetime, timedelta, timezone

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from syncflux_spark.functions import tafold
from syncflux_spark.functions.time import parse_duration

# ---------------------------------------------------------------------------
# Lexer
# ---------------------------------------------------------------------------

_BASE_PATTERN = r"""
    (?P<ws>\s+)
  | (?P<duration>\d+(?:\.\d+)?(?:ns|us|µs|u|µ|ms|s|m|h|d|w)(?:\d+(?:\.\d+)?(?:ns|us|µs|u|µ|ms|s|m|h|d|w))*)
  | (?P<number>(?:\d+\.\d+|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<qident>"(?:[^"\\]|\\.)*")
  | (?P<string>'(?:[^'\\]|\\.)*')
  {regex_alt}
  | (?P<op><=|>=|!=|<>|=~|!~|[=<>(),.*;+/-])
  | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
"""

_TOKEN_RE = re.compile(
    _BASE_PATTERN.format(regex_alt=r"| (?P<regex>/(?:[^/\\]|\\.)+/)"),
    re.VERBOSE,
)
#: same alternation minus the regex literal — used wherever the
#: grammar can't take a /regex/, so '/' lexes as the division operator
_TOKEN_RE_NO_RX = re.compile(_BASE_PATTERN.format(regex_alt=""), re.VERBOSE)

#: a /regex/ literal is legal only right after these tokens (the =~/!~
#: operators and FROM); everywhere else '/' is arithmetic division.
#: InfluxQL's own lexer disambiguates by context the same way.
_REGEX_AFTER = {"=~", "!~", "from"}


@dataclass
class Tok:
    kind: str
    text: str


def _lex(q: str) -> list[Tok]:
    out: list[Tok] = []
    pos = 0
    while pos < len(q):
        rx_ok = bool(out) and out[-1].text.lower() in _REGEX_AFTER
        m = (_TOKEN_RE if rx_ok else _TOKEN_RE_NO_RX).match(q, pos)
        if not m:
            raise InfluxQLError(f"unexpected character {q[pos]!r} at {pos}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        text = m.group()
        if kind == "qident":
            text = text[1:-1].replace('\\"', '"').replace("\\\\", "\\")
        elif kind == "string":
            text = text[1:-1].replace("\\'", "'").replace("\\\\", "\\")
        elif kind == "regex":
            text = text[1:-1]
        out.append(Tok(kind, text))
    return out


class InfluxQLError(ValueError):
    pass


def _dur_ns(text: str) -> int:
    """Duration literal → ns, with parse/range failures surfaced as
    InfluxQLError (the only rejection type the query surface may
    raise) instead of a bare ValueError."""
    try:
        return int(parse_duration(text).total_seconds() * 1e9)
    except InfluxQLError:
        raise
    except ValueError as e:
        raise InfluxQLError(str(e)) from None


#: ns multiplier for epoch-with-precision time literals ('1755043200s')
_EPOCH_UNIT_NS = {
    "ns": 1,
    "u": 1_000,
    "µ": 1_000,
    "us": 1_000,
    "µs": 1_000,
    "ms": 1_000_000,
    "s": 10**9,
    "m": 60 * 10**9,
    "h": 3_600 * 10**9,
    "d": 86_400 * 10**9,
    "w": 7 * 86_400 * 10**9,
}

_RFC3339_RE = re.compile(
    r"(\d{4}-\d{2}-\d{2})"
    r"(?:[T ](\d{2}:\d{2}:\d{2})(?:\.(\d+))?)?"
    r"(Z|z|[+-]\d{2}:?\d{2})?"
)


def _rfc3339_ns(s: str) -> int:
    """RFC3339 time literal → ns epoch, honouring explicit UTC offsets
    (naive values default to UTC) and sub-microsecond fractions (legal
    in InfluxQL; kept to full ns precision via integer arithmetic)."""
    m = _RFC3339_RE.fullmatch(s.strip())
    if not m:
        raise InfluxQLError(f"bad time literal {s!r}")
    date_s, time_s, frac_s, off_s = m.groups()
    try:
        dt = datetime.fromisoformat(f"{date_s}T{time_s or '00:00:00'}")
    except ValueError as ex:
        raise InfluxQLError(f"bad time literal {s!r}: {ex}") from None
    if off_s in (None, "Z", "z"):
        dt = dt.replace(tzinfo=timezone.utc)
    else:
        sign = 1 if off_s[0] == "+" else -1
        hh, mm = int(off_s[1:3]), int(off_s[-2:])
        dt = dt.replace(tzinfo=timezone(sign * timedelta(hours=hh, minutes=mm)))
    delta = dt - datetime(1970, 1, 1, tzinfo=timezone.utc)
    secs = delta.days * 86_400 + delta.seconds  # exact int seconds
    frac_ns = int((frac_s or "0").ljust(9, "0")[:9])
    return secs * 10**9 + frac_ns


# ---------------------------------------------------------------------------
# AST
# ---------------------------------------------------------------------------


@dataclass
class PNum:
    """Numeric literal inside a projection expression."""

    value: int | float


@dataclass
class PVar:
    """Field reference inside a projection expression."""

    name: str


@dataclass
class PCall:
    """Aggregate call inside a projection expression (``mean(a)+…``)."""

    proj: "Proj"


@dataclass
class PBin:
    """Binary arithmetic: ``+ - * /`` with InfluxQL null-propagation
    (either side null → null, which is Spark's native semantics)."""

    op: str
    left: object
    right: object


@dataclass
class PStr:
    """String/boolean literal in expression position (WHERE RHS)."""

    value: object


@dataclass
class PFunc:
    """Scalar math call (InfluxQL 1.8 mathematical functions): applies
    to raw fields in raw selects and to finished aggregate results in
    GROUP BY selects — ``abs("v")``, ``sqrt(mean("v"))``,
    ``pow("v", 2)``, ``log("v", 8)``."""

    name: str
    args: list


#: InfluxQL scalar math functions → arity. Compilation lands in
#: :func:`_math_col`; every one maps to a JVM codegen expression (no
#: UDF). ``log`` is 1-or-2 arity: ``log(x)`` = natural log (lenient —
#: Influx itself requires the base), ``log(x, b)`` = log base b.
_MATH_FUNCS: dict[str, tuple[int, int]] = {
    "abs": (1, 1),
    "acos": (1, 1),
    "asin": (1, 1),
    "atan": (1, 1),
    "atan2": (2, 2),
    "ceil": (1, 1),
    "cos": (1, 1),
    "exp": (1, 1),
    "floor": (1, 1),
    "ln": (1, 1),
    "log": (1, 2),
    "log2": (1, 1),
    "log10": (1, 1),
    "pow": (2, 2),
    "round": (1, 1),
    "sin": (1, 1),
    "sqrt": (1, 1),
    "tan": (1, 1),
}


def _math_col(name: str, cols: list[Column]) -> Column:
    """One InfluxQL math call → the matching Spark codegen expression.
    InfluxQL returns floats throughout (Go ``float64`` math), so the
    integer-returning Spark forms (ceil/floor → LONG) are cast back to
    double; ``round`` ties go away from zero, matching Go's
    ``math.Round`` and both engines' ROUND."""
    if name == "abs":
        return F.abs(cols[0])
    if name == "acos":
        return F.acos(cols[0])
    if name == "asin":
        return F.asin(cols[0])
    if name == "atan":
        return F.atan(cols[0])
    if name == "atan2":
        return F.atan2(cols[0], cols[1])
    if name == "ceil":
        return F.ceil(cols[0]).cast("double")
    if name == "cos":
        return F.cos(cols[0])
    if name == "exp":
        return F.exp(cols[0])
    if name == "floor":
        return F.floor(cols[0]).cast("double")
    if name == "ln":
        return F.log(cols[0])
    if name == "log":
        if len(cols) == 1:
            return F.log(cols[0])
        # log base b via ln(x)/ln(b): keeps the base an arbitrary
        # expression (Spark's F.log(base, col) wants a Python float)
        return F.log(cols[0]) / F.log(cols[1])
    if name == "log2":
        return F.log2(cols[0])
    if name == "log10":
        return F.log10(cols[0])
    if name == "pow":
        return F.pow(cols[0], cols[1])
    if name == "round":
        return F.round(cols[0], 0).cast("double")
    if name == "sin":
        return F.sin(cols[0])
    if name == "sqrt":
        return F.sqrt(cols[0])
    if name == "tan":
        return F.tan(cols[0])
    raise InfluxQLError(f"unknown math function {name!r}")


def _pexpr_has_call(e) -> bool:
    if isinstance(e, PCall):
        return True
    if isinstance(e, PBin):
        return _pexpr_has_call(e.left) or _pexpr_has_call(e.right)
    if isinstance(e, PFunc):
        return any(_pexpr_has_call(a) for a in e.args)
    return False


def _pexpr_name(e) -> str:
    """InfluxQL's default column name for a projection expression:
    the leaf names (field names / function names) joined with '_' —
    ``mean("a") + mean("b")`` → ``mean_mean``, ``"a" * 2`` → ``a``."""
    if isinstance(e, PVar):
        return e.name
    if isinstance(e, PCall):
        return e.proj.func or e.proj.field
    if isinstance(e, PFunc):
        return e.name  # influx names the column after the outer function
    if isinstance(e, PBin):
        parts = [p for p in (_pexpr_name(e.left), _pexpr_name(e.right)) if p]
        return "_".join(parts)
    return ""  # PNum contributes nothing


@dataclass
class Proj:
    """One projection item: a bare field, ``func(field[, arg])``, a
    selector transformation ``transform(func(field)[, arg])``
    (derivative / difference / moving_average over an aggregate), or —
    when ``expr`` is set — a binary arithmetic expression over fields,
    literals, and aggregate calls (``mean("a") + mean("b")``,
    ``"value" * 2``)."""

    func: str | None  # None = raw field
    field: str  # field name or '*'
    arg: float | None = None  # percentile argument
    alias: str | None = None
    transform: str | None = None  # outer derivative/moving_average/...
    transform_arg: int | float | None = None  # unit ns / window n / N
    transform_arg2: int | float | None = None  # holt_winters season S
    expr: object | None = None  # PBin tree for arithmetic projections

    @property
    def out_name(self) -> str:
        if self.alias:
            return self.alias
        if self.expr is not None:
            return _pexpr_name(self.expr) or "expr"
        if self.transform:
            return self.transform
        if self.func is None:
            return self.field
        return self.func  # influx names the column after the function


@dataclass
class TimeBound:
    lo_ns: int | None
    hi_ns: int | None
    lo_inclusive: bool = True
    hi_inclusive: bool = False


@dataclass
class SelectStmt:
    projs: list[Proj]
    measurement: str
    db: str | None = None
    rp: str | None = None
    into: str | None = None  # SELECT ... INTO target (CQ bodies)
    sub: "SelectStmt | None" = None  # FROM (SELECT ...) subquery
    measurement_regex: str | None = None  # FROM /re/ multi-measurement
    where: "Expr | None" = None
    time: TimeBound = dc_field(default_factory=lambda: TimeBound(None, None))
    group_time_ns: int | None = None
    group_offset_ns: int = 0
    group_tags: list[str] = dc_field(default_factory=list)
    group_star: bool = False
    fill: str | float | None = None  # 'null'|'none'|'previous'|'linear'|number
    order_desc: bool = False
    limit: int | None = None
    offset: int | None = None
    slimit: int | None = None  # per-SERIES limit (influx SLIMIT)
    soffset: int | None = None
    tzname: str | None = None  # tz('<zone>') — local bucket alignment


@dataclass
class Expr:
    """Non-time WHERE predicate tree. Plain comparisons carry
    (key, cmp, value); arithmetic comparisons (``value * 2 > 100``)
    carry P-expression trees in (lhs, rhs) instead."""

    op: str  # 'and' 'or' 'cmp' 'regex'
    left: "Expr | None" = None
    right: "Expr | None" = None
    key: str | None = None
    cmp: str | None = None
    value: object = None
    lhs: object | None = None  # PVar/PNum/PBin tree
    rhs: object | None = None


@dataclass
class ShowStmt:
    what: str  # databases | retention policies | measurements | field keys
    #          # | tag keys | tag values | series
    db: str | None = None
    measurement: str | None = None
    tag_key: str | None = None  # SHOW TAG VALUES ... WITH KEY = k


@dataclass
class ExplainStmt:
    """EXPLAIN [ANALYZE] SELECT ... — influx's plan-inspection
    statement, answered with the COMPILED Spark physical plan (the
    honest answer: this engine's execution plan is Catalyst's)."""

    select: "SelectStmt"
    analyze: bool = False


@dataclass
class DeleteStmt:
    """DELETE FROM m [WHERE time ... [AND tag = '...']] —
    storage-backed expiry / series removal."""

    measurement: str
    db: str | None = None
    time: "TimeBound" = dc_field(default_factory=lambda: TimeBound(None, None))
    where: "Expr | None" = None  # tag predicates (influx DELETE grammar)
    #: DROP SERIES origin: a bare statement (no WHERE) legally means
    #: "remove every series of the measurement", unlike DELETE where
    #: a missing predicate is rejected as a guard against accidents
    drop_series: bool = False


@dataclass
class DropStmt:
    what: str  # measurement | database
    name: str
    db: str | None = None


@dataclass
class KillStmt:
    """KILL QUERY <qid> — cancel a running query's Spark job group."""

    qid: int


@dataclass
class CreateDatabaseStmt:
    db: str
    duration: str | None = None
    replication: int = 1
    shard_duration: str | None = None
    rp_name: str | None = None


@dataclass
class RetentionPolicyStmt:
    verb: str  # create | alter
    rp: str
    db: str
    duration: str | None = None
    replication: int | None = None
    shard_duration: str | None = None
    default: bool = False


@dataclass
class ContinuousQueryStmt:
    """CREATE CONTINUOUS QUERY "name" ON "db" BEGIN
    SELECT <aggs> INTO "target" FROM m GROUP BY time(iv)[, tags] END"""

    name: str
    db: str
    select: SelectStmt


# ---------------------------------------------------------------------------
# Parser
# ---------------------------------------------------------------------------

_AGG_FUNCS = {
    "count",
    "sum",
    "mean",
    "min",
    "max",
    "first",
    "last",
    "spread",
    "stddev",
    "median",
    "mode",
    "distinct",
    "percentile",
    "top",
    "bottom",
    "integral",
    "sample",
}

#: outer selector transformations over an aggregate (influx docs:
#: "transformations"): derivative(mean(v), 1h), moving_average(sum(v), 3)
_TRANSFORM_FUNCS = {
    "derivative",
    "non_negative_derivative",
    "difference",
    "non_negative_difference",
    "moving_average",
    "cumulative_sum",
    "elapsed",
    "holt_winters",
    "holt_winters_with_fit",
    "exponential_moving_average",
    "relative_strength_index",
    "chande_momentum_oscillator",
    "double_exponential_moving_average",
    "triple_exponential_moving_average",
    "triple_exponential_derivative",
    "kaufmans_efficiency_ratio",
    "kaufmans_adaptive_moving_average",
}


class _Parser:
    def __init__(self, q: str, now: datetime | None = None):
        self.toks = _lex(q)
        self.i = 0
        self.now = now or datetime.now(timezone.utc)

    # -- token helpers ------------------------------------------------------
    def peek(self, k: int = 0) -> Tok | None:
        j = self.i + k
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> Tok:
        if self.i >= len(self.toks):
            raise InfluxQLError("unexpected end of statement")
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept_kw(self, *words: str) -> bool:
        save = self.i
        for w in words:
            t = self.peek()
            if t is None or t.kind not in ("ident",) or t.text.lower() != w:
                self.i = save
                return False
            self.i += 1
        return True

    def expect_kw(self, *words: str) -> None:
        if not self.accept_kw(*words):
            got = self.peek().text if self.peek() else "<eof>"
            raise InfluxQLError(f"expected {' '.join(words).upper()}, got {got!r}")

    def expect_op(self, op: str) -> None:
        t = self.next()
        if t.text != op:
            raise InfluxQLError(f"expected {op!r}, got {t.text!r}")

    def ident(self) -> str:
        t = self.next()
        if t.kind not in ("ident", "qident"):
            raise InfluxQLError(f"expected identifier, got {t.text!r}")
        return t.text

    def int_lit(self) -> int:
        t = self.next()
        if t.kind != "number" or not t.text.isdigit():
            raise InfluxQLError(f"expected integer, got {t.text!r}")
        v = int(t.text)
        if v >= 2**63:
            raise InfluxQLError(f"integer literal out of range: {t.text}")
        return v

    # -- entry --------------------------------------------------------------
    def parse(self):
        t = self.peek()
        if t is None:
            raise InfluxQLError("empty statement")
        w = t.text.lower()
        if w == "select":
            return self.select()
        if w == "show":
            return self.show()
        if w == "create" and self.peek(1) and self.peek(1).text.lower() == "database":
            return self.create_database()
        if w == "create" and self.peek(1) and self.peek(1).text.lower() == "continuous":
            return self.continuous_query()
        if w in ("create", "alter"):
            return self.retention_policy()
        if w == "delete":
            return self.delete()
        if w == "drop":
            return self.drop()
        if w == "explain":
            self.next()
            analyze = bool(self.accept_kw("analyze"))
            sel = self.select()
            return ExplainStmt(select=sel, analyze=analyze)
        if w == "kill":
            self.expect_kw("kill", "query")
            return KillStmt(qid=self.int_lit())
        raise InfluxQLError(f"unsupported statement {t.text!r}")

    # -- SELECT -------------------------------------------------------------
    def select(self, in_cq: bool = False) -> SelectStmt:
        self.expect_kw("select")
        projs = [self.proj()]
        while self.peek() and self.peek().text == ",":
            self.next()
            projs.append(self.proj())
        into = None
        if self.accept_kw("into"):
            into = self.ident()
        self.expect_kw("from")
        if self.peek() and self.peek().text == "(":
            # FROM (SELECT ...) subquery (influx 1.2+)
            self.next()
            sub = self.select(in_cq=True)  # stop at the closing paren
            self.expect_op(")")
            st = SelectStmt(
                projs=projs, measurement=sub.measurement, into=into, sub=sub
            )
            return self._select_tail(st, in_cq)
        if self.peek() and self.peek().kind == "regex":
            rx = self.next().text
            st = SelectStmt(
                projs=projs, measurement=rx, into=into, measurement_regex=rx
            )
            return self._select_tail(st, in_cq)
        db = rp = None
        if self.peek() is None:
            raise InfluxQLError("unexpected end of statement")
        name = self.ident() if self.peek().text != "*" else self.next().text
        parts = [name]
        while self.peek() and self.peek().text == ".":
            self.next()
            parts.append(self.ident())
        if len(parts) == 3:
            db, rp, meas = parts
        elif len(parts) == 2:
            db, meas = parts[0], parts[1]
        elif len(parts) == 1:
            meas = parts[0]
        else:
            raise InfluxQLError("too many dots in measurement name")
        if self.peek() and self.peek().text == "," and len(parts) == 1:
            # FROM m1, m2, ... — multi-measurement select, compiled
            # through the same union machinery as FROM /regex/ (an
            # anchored, escaped alternation), one series per
            # measurement via the synthesized `measurement` tag
            names = [meas]
            while self.peek() and self.peek().text == ",":
                self.next()
                names.append(self.ident())
            rx = "^(?:" + "|".join(re.escape(n) for n in names) + ")$"
            st = SelectStmt(
                projs=projs, measurement=rx, into=into, measurement_regex=rx
            )
            return self._select_tail(st, in_cq)
        st = SelectStmt(projs=projs, measurement=meas, db=db, rp=rp, into=into)
        return self._select_tail(st, in_cq)

    def _select_tail(self, st: SelectStmt, in_cq: bool = False) -> SelectStmt:
        """WHERE / GROUP BY / fill / ORDER / LIMIT / OFFSET clauses,
        shared by table selects and FROM-(subquery) selects."""
        if self.accept_kw("where"):
            st.where = self.where_expr(st)
        if self.accept_kw("group", "by"):
            self.group_by(st)
        if self.peek() and self.peek().text.lower() == "fill":
            self.next()
            self.expect_op("(")
            t = self.next()
            if t.kind == "number":
                st.fill = float(t.text)
            elif t.text == "0":
                st.fill = 0.0
            elif t.text.lower() in ("null", "none", "previous", "linear"):
                st.fill = t.text.lower()
            else:
                raise InfluxQLError(f"bad fill argument {t.text!r}")
            self.expect_op(")")
        if self.accept_kw("order", "by"):
            self.expect_kw("time")
            if self.accept_kw("desc"):
                st.order_desc = True
            else:
                self.accept_kw("asc")
        _I32 = 2**31 - 1
        if self.accept_kw("limit"):
            st.limit = min(self.int_lit(), _I32)
        if self.accept_kw("offset"):
            st.offset = min(self.int_lit(), _I32)
        if self.accept_kw("slimit"):
            st.slimit = min(self.int_lit(), _I32)
        if self.accept_kw("soffset"):
            st.soffset = min(self.int_lit(), _I32)
        if self.peek() and self.peek().kind == "ident" and self.peek().text.lower() == "tz":
            self.next()
            self.expect_op("(")
            zt = self.next()
            if zt.kind != "string":
                raise InfluxQLError("tz() takes a quoted zone name")
            st.tzname = zt.text
            self.expect_op(")")
        if self.peek() and self.peek().text == ";":
            self.next()
        if in_cq:
            return st  # caller consumes the closing END
        if self.peek() is not None:
            raise InfluxQLError(f"trailing input at {self.peek().text!r}")
        return st

    def proj(self) -> Proj:
        t = self.peek()
        if t is None:
            raise InfluxQLError("unexpected end of statement")
        if t.text == "*":
            self.next()
            return Proj(func=None, field="*")
        if (
            t.kind == "ident"
            and t.text.lower() in _TRANSFORM_FUNCS
            and self.peek(1)
            and self.peek(1).text == "("
        ):
            transform = self.next().text.lower()
            self.expect_op("(")
            inner = self.proj()
            # raw-field inner is legal too (per-point transformations
            # over raw selects); validation of which combination is
            # allowed happens at compile time
            targs: list[int | float] = []
            while self.peek() and self.peek().text == ",":
                self.next()
                a = self.next()
                if a.kind == "duration":
                    targs.append(
                        _dur_ns(a.text)
                    )
                elif a.kind == "number":
                    targs.append(int(a.text) if a.text.isdigit() else float(a.text))
                else:
                    raise InfluxQLError(f"bad {transform} argument {a.text!r}")
            self.expect_op(")")
            if transform in ("holt_winters", "holt_winters_with_fit"):
                if len(targs) != 2:
                    raise InfluxQLError(
                        f"{transform}(func(..), N, S) takes exactly two "
                        f"arguments, got {len(targs)}"
                    )
            elif len(targs) > 1:
                raise InfluxQLError(
                    f"{transform}() takes at most one argument"
                )
            alias = self.ident() if self.accept_kw("as") else None
            inner.transform = transform
            inner.transform_arg = targs[0] if targs else None
            inner.transform_arg2 = targs[1] if len(targs) > 1 else None
            inner.alias = alias
            return inner
        e = self._proj_sum()
        alias = self.ident() if self.accept_kw("as") else None
        # single-node expressions collapse to the plain Proj forms
        if isinstance(e, PCall):
            e.proj.alias = alias
            return e.proj
        if isinstance(e, PVar):
            return Proj(func=None, field=e.name, alias=alias)
        if isinstance(e, PNum):
            raise InfluxQLError("projection cannot be a bare literal")
        return Proj(func=None, field="", alias=alias, expr=e)

    # projection arithmetic: sum := term (('+'|'-') term)*,
    # term := factor (('*'|'/') factor)*
    def _proj_sum(self):
        left = self._proj_term()
        while self.peek() and self.peek().text in ("+", "-"):
            op = self.next().text
            left = PBin(op, left, self._proj_term())
        return left

    def _proj_term(self):
        left = self._proj_factor()
        while self.peek() and self.peek().text in ("*", "/"):
            op = self.next().text
            left = PBin(op, left, self._proj_factor())
        return left

    def _proj_factor(self):
        t = self.peek()
        if t is None:
            raise InfluxQLError("unexpected end of projection")
        if t.text == "(":
            self.next()
            e = self._proj_sum()
            self.expect_op(")")
            return e
        if t.text == "-":  # unary minus
            self.next()
            return PBin("-", PNum(0), self._proj_factor())
        if t.kind == "number":
            self.next()
            return PNum(int(t.text) if t.text.isdigit() else float(t.text))
        if t.kind in ("ident", "qident"):
            if (
                t.kind == "ident"
                and t.text.lower() in _AGG_FUNCS
                and self.peek(1)
                and self.peek(1).text == "("
            ):
                return PCall(self._call_proj())
            if (
                t.kind == "ident"
                and t.text.lower() in _MATH_FUNCS
                and self.peek(1)
                and self.peek(1).text == "("
            ):
                name = self.next().text.lower()
                self.expect_op("(")
                args = [self._proj_sum()]
                while self.peek() and self.peek().text == ",":
                    self.next()
                    args.append(self._proj_sum())
                self.expect_op(")")
                lo, hi = _MATH_FUNCS[name]
                if not lo <= len(args) <= hi:
                    raise InfluxQLError(
                        f"{name}() takes {lo}"
                        + (f"-{hi}" if hi != lo else "")
                        + f" arguments, got {len(args)}"
                    )
                return PFunc(name, args)
            return PVar(self.ident())
        raise InfluxQLError(f"bad projection token {t.text!r}")

    def _call_proj(self) -> Proj:
        """``func(field[, arg])`` without the trailing alias (shared by
        plain aggregate projections and arithmetic factors)."""
        func = self.next().text.lower()
        self.expect_op("(")
        inner = self.peek()
        if inner is None:
            raise InfluxQLError("unexpected end of statement")
        if func == "count" and inner.text.lower() == "distinct":
            # count(distinct f) — influx spells this count(distinct(f))
            self.next()
            self.expect_op("(")
            fld = self.ident()
            self.expect_op(")")
            func = "count_distinct"
        elif func == "distinct":
            fld = self.ident()
            func = "distinct"
        else:
            fld = self.ident() if inner.text != "*" else self.next().text
        arg = None
        if self.peek() and self.peek().text == ",":
            self.next()
            a = self.next()
            if a.kind == "duration":
                # integral(v, 1h): the unit the area is expressed in
                arg = _dur_ns(a.text)
            elif a.kind == "number":
                arg = float(a.text)
            else:
                raise InfluxQLError(f"bad {func} argument {a.text!r}")
        self.expect_op(")")
        if func == "percentile" and arg is None:
            raise InfluxQLError("percentile requires an argument")
        if func == "sample" and arg is None:
            raise InfluxQLError("sample requires a point count")
        return Proj(func=func, field=fld, arg=arg)

    # WHERE: collect time bounds into st.time; everything else into a tree
    def where_expr(self, st: SelectStmt) -> Expr | None:
        expr = self.or_expr(st)
        return expr

    def or_expr(self, st: SelectStmt) -> Expr | None:
        left = self.and_expr(st)
        while self.accept_kw("or"):
            right = self.and_expr(st)
            if left is None or right is None:
                raise InfluxQLError("time bounds cannot appear under OR")
            left = Expr("or", left=left, right=right)
        return left

    def and_expr(self, st: SelectStmt) -> Expr | None:
        left = self.cmp_expr(st)
        while self.accept_kw("and"):
            right = self.cmp_expr(st)
            if left is None:
                left = right
            elif right is not None:
                left = Expr("and", left=left, right=right)
        return left

    _CMP_OPS = ("=", "!=", "<>", "<", "<=", ">", ">=", "=~", "!~")

    def cmp_expr(self, st: SelectStmt) -> Expr | None:
        t0 = self.peek()
        if t0 and t0.text == "(":
            # a '(' opens either a boolean group or an arithmetic
            # operand — try the boolean parse, backtrack to arithmetic
            # on failure (InfluxQL's own grammar is this ambiguous)
            save = self.i
            try:
                self.next()
                e = self.or_expr(st)
                self.expect_op(")")
                return e
            except InfluxQLError:
                self.i = save
        # bare-`time` comparisons route to the pushdown range, and only
        # the bare form — time never participates in arithmetic
        if (
            t0
            and t0.kind in ("ident", "qident")
            and t0.text.lower() == "time"
            and self.peek(1)
            and self.peek(1).text in self._CMP_OPS
        ):
            self.next()
            op = self.next().text
            ns = self.time_value()
            if op in (">", ">="):
                st.time.lo_ns, st.time.lo_inclusive = ns, op == ">="
                if op == ">":
                    st.time.lo_ns = ns + 1
                    st.time.lo_inclusive = True
            elif op in ("<", "<="):
                st.time.hi_ns = ns + 1 if op == "<=" else ns
                st.time.hi_inclusive = False
            elif op == "=":
                st.time.lo_ns, st.time.hi_ns = ns, ns + 1
            else:
                raise InfluxQLError(f"unsupported time operator {op!r}")
            return None
        lhs = self._proj_sum()
        t = self.next()
        op = t.text
        if op not in self._CMP_OPS:
            raise InfluxQLError(f"bad comparison operator {op!r}")
        if op in ("=~", "!~"):
            if not isinstance(lhs, PVar):
                raise InfluxQLError("=~ applies to a tag or field name")
            t2 = self.next()
            if t2.kind != "regex":
                raise InfluxQLError("=~ requires /regex/")
            return Expr("regex", key=lhs.name, cmp=op, value=t2.text)
        nxt = self.peek()
        if nxt is not None and (
            nxt.kind in ("string", "duration")
            or (nxt.kind == "ident" and nxt.text.lower() in ("true", "false"))
        ):
            rhs: object = None
            val = self.value()
        else:
            rhs = self._proj_sum()
            val = None
        for side in (lhs, rhs):
            if side is not None and _pexpr_has_call(side):
                raise InfluxQLError("aggregate calls are not allowed in WHERE")
        # collapse plain field-vs-literal forms so simple predicates
        # keep their typed comparison semantics (and plan shape)
        if isinstance(lhs, PVar) and rhs is None:
            return Expr("cmp", key=lhs.name, cmp=op, value=val)
        if isinstance(lhs, PVar) and isinstance(rhs, PNum):
            return Expr("cmp", key=lhs.name, cmp=op, value=rhs.value)
        if rhs is None:
            rhs = PNum(val) if isinstance(val, (int, float)) else PStr(val)
        return Expr("cmp", cmp=op, lhs=lhs, rhs=rhs)

    def time_value(self) -> int:
        """A time operand → ns epoch. RFC3339 string, bare epoch-ns
        integer, epoch-with-precision (``1755043200s`` — the exact
        shape the reference's sync scan emits, pkg/agent/sync.go:162),
        or now() [± duration] (pkg/util.go:9-28 shapes)."""
        t = self.next()
        if t.kind == "string":
            return _rfc3339_ns(t.text)
        if t.kind == "number":
            if not t.text.isdigit():
                raise InfluxQLError(
                    f"time literal must be an integer epoch, got {t.text!r}"
                )
            ns = int(t.text)  # influx: bare integers in WHERE time are ns
            if abs(ns) >= 2**63:
                raise InfluxQLError(f"time literal out of range: {t.text}")
            return ns
        if t.kind == "duration":
            # epoch-with-unit literal: '1755043200s' is an epoch in the
            # trailing unit's precision, not a duration. All-integer
            # arithmetic — float would lose ns at 1.7e18.
            m = re.fullmatch(r"(\d+)(ns|us|µs|u|µ|ms|s|m|h|d|w)", t.text)
            if not m:
                raise InfluxQLError(f"bad epoch time literal {t.text!r}")
            ns = int(m.group(1)) * _EPOCH_UNIT_NS[m.group(2)]
            if ns >= 2**63:
                raise InfluxQLError(f"time literal out of range: {t.text}")
            return ns
        if t.kind == "ident" and t.text.lower() == "now":
            self.expect_op("(")
            self.expect_op(")")
            ns = int(self.now.timestamp() * 1_000_000) * 1_000
            nxt = self.peek()
            if nxt and nxt.text in ("+", "-"):
                sign = 1 if self.next().text == "+" else -1
                d = self.next()
                if d.kind != "duration":
                    raise InfluxQLError("expected duration after now() ±")
                ns += sign * _dur_ns(d.text)
            return ns
        raise InfluxQLError(f"bad time operand {t.text!r}")

    def value(self):
        t = self.next()
        if t.kind == "string":
            return t.text
        if t.kind == "number":
            return int(t.text) if t.text.isdigit() else float(t.text)
        if t.kind == "duration":
            return _dur_ns(t.text)
        if t.kind == "ident" and t.text.lower() in ("true", "false"):
            return t.text.lower() == "true"
        raise InfluxQLError(f"bad literal {t.text!r}")

    def group_by(self, st: SelectStmt) -> None:
        while True:
            t = self.peek()
            if t is None:
                break
            if t.text == "*":
                self.next()
                st.group_star = True
            elif t.kind == "ident" and t.text.lower() == "time" and self.peek(1) and self.peek(1).text == "(":
                self.next()
                self.expect_op("(")
                d = self.next()
                if d.kind != "duration":
                    raise InfluxQLError("time() requires a duration")
                st.group_time_ns = _dur_ns(d.text)
                if not 0 < st.group_time_ns < 2**63:
                    raise InfluxQLError(
                        f"GROUP BY time interval out of range: {d.text}"
                    )
                if self.peek() and self.peek().text == ",":
                    self.next()
                    off = self.next()
                    st.group_offset_ns = _dur_ns(off.text)
                    if abs(st.group_offset_ns) >= 2**63:
                        raise InfluxQLError(
                            f"GROUP BY time offset out of range: {off.text}"
                        )
                self.expect_op(")")
            else:
                st.group_tags.append(self.ident())
            if self.peek() and self.peek().text == ",":
                self.next()
                continue
            break

    # -- SHOW ---------------------------------------------------------------
    def show(self) -> ShowStmt:
        self.expect_kw("show")
        if self.accept_kw("databases"):
            return ShowStmt("databases")
        if self.accept_kw("queries"):
            return ShowStmt("queries")
        # CARDINALITY family (influx 1.4+): SHOW <what> CARDINALITY
        if self.accept_kw("series", "cardinality"):
            return self._show_cardinality("series cardinality")
        if self.accept_kw("measurement", "cardinality"):
            return ShowStmt("measurement cardinality")
        if self.accept_kw("tag", "key", "cardinality"):
            return self._show_cardinality("tag key cardinality")
        if self.accept_kw("field", "key", "cardinality"):
            return self._show_cardinality("field key cardinality")
        if self.accept_kw("tag", "values", "cardinality"):
            st = self._show_cardinality("tag values cardinality", key=True)
            return st
        if self.accept_kw("retention", "policies"):
            db = self.ident() if self.accept_kw("on") else None
            return ShowStmt("retention policies", db=db)
        if self.accept_kw("measurements"):
            db = self.ident() if self.accept_kw("on") else None
            return ShowStmt("measurements", db=db)
        if self.accept_kw("field", "keys"):
            db = self.ident() if self.accept_kw("on") else None
            meas = self.ident() if self.accept_kw("from") else None
            return ShowStmt("field keys", db=db, measurement=meas)
        if self.accept_kw("tag", "keys"):
            db = self.ident() if self.accept_kw("on") else None
            meas = self.ident() if self.accept_kw("from") else None
            return ShowStmt("tag keys", db=db, measurement=meas)
        if self.accept_kw("tag", "values"):
            db = self.ident() if self.accept_kw("on") else None
            meas = self.ident() if self.accept_kw("from") else None
            self.expect_kw("with", "key")
            self.expect_op("=")
            key = self.ident()
            return ShowStmt("tag values", db=db, measurement=meas, tag_key=key)
        if self.accept_kw("series"):
            db = self.ident() if self.accept_kw("on") else None
            meas = self.ident() if self.accept_kw("from") else None
            return ShowStmt("series", db=db, measurement=meas)
        if self.accept_kw("continuous", "queries"):
            return ShowStmt("continuous queries")
        if self.accept_kw("stats"):
            return ShowStmt("stats")
        if self.accept_kw("diagnostics"):
            return ShowStmt("diagnostics")
        raise InfluxQLError("unsupported SHOW statement")

    def _show_cardinality(self, what: str, key: bool = False) -> ShowStmt:
        """Shared tail of the SHOW ... CARDINALITY family:
        [ON db] [FROM m] and, for tag values, WITH KEY = k."""
        db = self.ident() if self.accept_kw("on") else None
        meas = self.ident() if self.accept_kw("from") else None
        tag_key = None
        if key:
            if meas is None and self.accept_kw("from"):
                meas = self.ident()
            self.expect_kw("with", "key")
            self.expect_op("=")
            tag_key = self.ident()
            if meas is None and self.accept_kw("from"):
                meas = self.ident()
        return ShowStmt(what, db=db, measurement=meas, tag_key=tag_key)

    # -- DELETE / DROP ------------------------------------------------------
    def delete(self) -> DeleteStmt:
        self.expect_kw("delete", "from")
        meas = self.ident()
        st = DeleteStmt(measurement=meas)
        if self.accept_kw("where"):
            # influx DELETE grammar: time bounds + TAG predicates
            # (equality / regex); field comparisons are rejected at
            # execute time, where the schema is known
            tmp = SelectStmt(projs=[], measurement=meas)
            st.where = self.where_expr(tmp)
            st.time = tmp.time
        return st

    def drop(self):
        self.expect_kw("drop")
        if self.accept_kw("series", "from"):
            # DROP SERIES FROM m [WHERE <tag predicates>] — InfluxDB's
            # whole-series removal. Same machinery as DELETE with no
            # time bounds (every point of the matching series goes);
            # time predicates are NOT legal in DROP SERIES, matching
            # InfluxDB's grammar.
            meas = self.ident()
            st = DeleteStmt(measurement=meas, drop_series=True)
            if self.accept_kw("where"):
                tmp = SelectStmt(projs=[], measurement=meas)
                st.where = self.where_expr(tmp)
                if tmp.time.lo_ns is not None or tmp.time.hi_ns is not None:
                    raise InfluxQLError(
                        "DROP SERIES does not accept time predicates; "
                        "use DELETE for time-bounded removal"
                    )
            return st
        if self.accept_kw("measurement"):
            return DropStmt("measurement", self.ident())
        if self.accept_kw("database"):
            return DropStmt("database", self.ident())
        if self.accept_kw("continuous", "query"):
            name = self.ident()
            db = self.ident() if self.accept_kw("on") else None
            return DropStmt("continuous query", name, db=db)
        if self.accept_kw("retention", "policy"):
            name = self.ident()
            db = self.ident() if self.accept_kw("on") else None
            return DropStmt("retention policy", name, db=db)
        raise InfluxQLError("unsupported DROP statement")

    # -- DDL ----------------------------------------------------------------
    def create_database(self) -> CreateDatabaseStmt:
        self.expect_kw("create", "database")
        st = CreateDatabaseStmt(db=self.ident())
        if self.accept_kw("with"):
            while True:
                if self.accept_kw("duration"):
                    st.duration = self.next().text
                elif self.accept_kw("replication"):
                    st.replication = self.int_lit()
                elif self.accept_kw("shard", "duration"):
                    st.shard_duration = self.next().text
                elif self.accept_kw("name"):
                    st.rp_name = self.ident()
                else:
                    break
        return st

    def continuous_query(self) -> ContinuousQueryStmt:
        self.expect_kw("create", "continuous", "query")
        name = self.ident()
        self.expect_kw("on")
        db = self.ident()
        self.expect_kw("begin")
        sel = self.select(in_cq=True)
        self.expect_kw("end")
        if self.peek() and self.peek().text == ";":
            self.next()
        if self.peek() is not None:
            raise InfluxQLError(f"trailing input at {self.peek().text!r}")
        if sel.into is None:
            raise InfluxQLError("continuous query requires SELECT ... INTO")
        if not sel.group_time_ns:
            raise InfluxQLError("continuous query requires GROUP BY time(...)")
        return ContinuousQueryStmt(name=name, db=db, select=sel)

    def retention_policy(self) -> RetentionPolicyStmt:
        verb = self.next().text.lower()
        self.expect_kw("retention", "policy")
        rp = self.ident()
        self.expect_kw("on")
        db = self.ident()
        st = RetentionPolicyStmt(verb=verb, rp=rp, db=db)
        while self.peek() is not None:
            if self.accept_kw("duration"):
                st.duration = self.next().text
            elif self.accept_kw("replication"):
                st.replication = self.int_lit()
            elif self.accept_kw("shard", "duration"):
                st.shard_duration = self.next().text
            elif self.accept_kw("default"):
                st.default = True
            elif self.peek().text == ";":
                self.next()
            else:
                raise InfluxQLError(f"unexpected token {self.peek().text!r}")
        return st


def parse(q: str, now: datetime | None = None):
    """Parse one InfluxQL statement → AST dataclass."""
    return _Parser(q, now=now).parse()


def _bq(ident: str) -> str:
    """Backtick-quote an identifier for interpolation into Spark SQL
    text, escaping embedded backticks — quoted InfluxQL identifiers may
    contain any character, and DROP/DELETE are reachable through the
    unauthenticated /query endpoint, so unescaped interpolation would
    be an injection hole."""
    return "`" + ident.replace("`", "``") + "`"


def split_statements(q: str) -> list[str]:
    """Split multi-statement InfluxQL text on top-level ``;`` using
    the real lexer (so semicolons inside quoted strings/identifiers
    don't split). The HTTP /query endpoint accepts
    ``q=stmt1;stmt2`` exactly like InfluxDB."""
    cuts: list[int] = []
    pos = 0
    prev = ""
    while pos < len(q):
        rx_ok = prev.lower() in _REGEX_AFTER
        m = (_TOKEN_RE if rx_ok else _TOKEN_RE_NO_RX).match(q, pos)
        if not m:
            break  # parse() will surface the lex error with context
        if m.lastgroup == "op" and m.group() == ";":
            cuts.append(pos)
        if m.lastgroup != "ws":
            prev = m.group()
        pos = m.end()
    out, start = [], 0
    for c in cuts:
        out.append(q[start:c])
        start = c + 1
    out.append(q[start:])
    return [s for s in (p.strip() for p in out) if s]


# ---------------------------------------------------------------------------
# Compiler / engine
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class _TaFold:
    """One member of the InfluxQL TA fold family, in both its forms
    (see :meth:`InfluxQLEngine._ta_fold`). ``stepper`` is a zero-arg
    factory of the row stream's per-bucket step (functions/tafold.py;
    None: in-row only), pickled to the Python workers, so it must not
    capture the engine. ``in_row(g) -> (g, rows)`` builds the JVM
    form over the collapsed series row ``g``: ``rows`` is an
    array<struct<t, v>> column to explode. ``emit_from`` is the first
    emitted bucket (1-based; inf: forecasts only), ``finisher`` emits
    the stream's per-series forecast rows, and ``micros`` collapses
    ``_xs`` as fixed-point int64 micros instead of doubles."""

    stepper: object
    in_row: object
    emit_from: float = 1
    finisher: object = None
    micros: bool = False


def _floordiv(col: Column, d: int) -> Column:
    """⌊col / d⌋ as a long, through a double divide — the fixed-point
    Holt-Winters op the oracle and functions/tafold.py replay."""
    return F.floor(col.cast("double") / F.lit(float(d))).cast("long")


class InfluxQLEngine:
    """Execute InfluxQL against registered Spark tables.

    ``tables`` maps measurement name → DataFrame (the events-shaped
    convention: ``ts``/``ts_ns`` time columns, tag columns, field
    columns). ``tags`` lists the tag columns per measurement (used by
    ``GROUP BY *`` and the field/tag split of ``SELECT *``); anything
    not a tag and not a time column is a field. Metadata statements
    need a :class:`SparkCatalog` (optional otherwise).
    """

    #: estimated bucket count (time range / group interval, known at
    #: plan build) up to which the TA fold family runs its in-row JVM
    #: fold; above it, and for any unbounded time range, the rollup
    #: rows stream through functions/tafold.py::streaming_fold. The
    #: in-row fold is O(B²) per series and wins below ~100 buckets;
    #: the stream is O(B) with a fixed Python-worker cost (SCALE.md
    #: has the measurements).
    fold_stream_threshold = 100

    def __init__(
        self,
        spark: SparkSession,
        tables: dict[str, DataFrame] | None = None,
        tags: dict[str, list[str]] | None = None,
        catalog=None,
        now: datetime | None = None,
        db: str | None = None,
        cq_root: str | None = None,
    ):
        self.spark = spark
        self.tables = dict(tables or {})
        self.tags = dict(tags or {})
        self.catalog = catalog
        self.now = now
        #: session database context (the `db` query param of the
        #: InfluxDB HTTP API) — used by DELETE/DROP resolution
        self.db = db
        #: target root for CREATE CONTINUOUS QUERY materialization
        #: (each CQ writes under {cq_root}/{target}/)
        self.cq_root = cq_root
        self.continuous_queries: dict[str, object] = {}
        #: running queries for SHOW QUERIES / KILL QUERY, by qid; each
        #: runs in job group ``{_group_prefix}{qid}``. qids count from 1
        #: in every engine and job groups are shared by the whole
        #: SparkContext, so the prefix carries a token of this engine.
        self._active_lock = threading.Lock()
        self._active: dict[int, dict] = {}
        self._qid_counter = 0
        self._group_prefix = f"influxql-{uuid.uuid4().hex[:12]}-q"

    def _est_buckets(self, st: "SelectStmt") -> int | None:
        """Bucket-count estimate from the statement alone: exact when
        both time bounds are literal, None when unbounded."""
        iv = st.group_time_ns
        lo, hi = st.time.lo_ns, st.time.hi_ns
        if not iv or lo is None or hi is None:
            return None
        return int((hi - lo) // iv) + 1

    # -- running-query admin (SHOW QUERIES / KILL QUERY) --------------------
    def tracked(self, text: str):
        """Context manager registering a query execution for SHOW
        QUERIES and making it killable: the executing thread joins a
        per-query Spark job group (interruptOnCancel), so KILL QUERY
        <qid> cancels its jobs mid-flight. The HTTP /query handler
        wraps execution in this; direct library callers may too."""
        import time as _time
        from contextlib import contextmanager

        @contextmanager
        def _cm():
            with self._active_lock:
                self._qid_counter += 1
                qid = self._qid_counter
            group = f"{self._group_prefix}{qid}"
            sc = self.spark.sparkContext
            sc.setJobGroup(group, text[:200], interruptOnCancel=True)
            with self._active_lock:
                self._active[qid] = {
                    "query": text,
                    "db": self.db or "",
                    "start": _time.monotonic(),
                    "group": group,
                }
            try:
                yield qid
            finally:
                with self._active_lock:
                    self._active.pop(qid, None)
                sc.setJobGroup("", "")

        return _cm()

    def _show_queries(self) -> DataFrame:
        """SHOW QUERIES: the running statements registered via
        :meth:`tracked` — (qid, query, database, duration), matching
        InfluxDB 1.x's columns. Durations render in whole seconds
        like Influx's output."""
        import time as _time

        with self._active_lock:
            rows = [
                (
                    qid,
                    meta["query"],
                    meta["db"],
                    f"{int(_time.monotonic() - meta['start'])}s",
                )
                for qid, meta in sorted(self._active.items())
            ]
        return self.spark.createDataFrame(
            rows, "qid long, query string, database string, duration string"
        )

    def _kill_query(self, st: "KillStmt") -> DataFrame:
        """KILL QUERY <qid>: cancel the query's Spark job group —
        running collects fail with a cancellation error in the
        issuing thread, matching InfluxDB's behavior of erroring the
        killed client."""
        with self._active_lock:
            meta = self._active.get(st.qid)
        if meta is None:
            raise InfluxQLError(f"no such query id {st.qid}")
        self.spark.sparkContext.cancelJobGroup(meta["group"])
        return self.spark.createDataFrame([], "killed long")

    def register_table(
        self, name: str, df: DataFrame, tags: list[str] | None = None
    ) -> None:
        self.tables[name] = df
        if tags is not None:
            self.tags[name] = list(tags)

    # -- public API ---------------------------------------------------------
    def query(self, q: str) -> DataFrame:
        """Parse + execute one statement, returning a DataFrame (SELECT
        and SHOW; DDL statements return an empty status frame)."""
        st = parse(q, now=self.now)
        if isinstance(st, SelectStmt):
            return self._select(st)
        if isinstance(st, KillStmt):
            return self._kill_query(st)
        if isinstance(st, ShowStmt):
            if st.what == "queries":
                return self._show_queries()
            return self._show(st)
        if isinstance(st, CreateDatabaseStmt):
            self._require_catalog().create_db(st.db)
            return self.spark.createDataFrame([(st.db,)], "created string")
        if isinstance(st, RetentionPolicyStmt):
            return self._retention(st)
        if isinstance(st, DeleteStmt):
            return self._delete(st)
        if isinstance(st, DropStmt):
            return self._drop(st)
        if isinstance(st, ContinuousQueryStmt):
            return self._create_cq(st, q)
        if isinstance(st, ExplainStmt):
            return self._explain(st)
        raise InfluxQLError(f"unhandled statement {type(st).__name__}")

    def _explain(self, st: ExplainStmt) -> DataFrame:
        """EXPLAIN: one row per line of the compiled physical plan
        (EXPLAIN ANALYZE executes first, so AQE's final plan with
        runtime statistics is what prints — influx's ANALYZE also
        runs the query)."""
        df = self._select(st.select)
        if st.analyze:
            df.write.format("noop").mode("overwrite").save()
        plan = df._jdf.queryExecution().executedPlan().toString()
        return self.spark.createDataFrame(
            [(i, line) for i, line in enumerate(plan.splitlines())],
            "line bigint, plan string",
        )

    # -- continuous queries -------------------------------------------------
    def _create_cq(self, st: ContinuousQueryStmt, text: str) -> DataFrame:
        """CREATE CONTINUOUS QUERY: register an incremental
        materialization (streaming/continuous.py) targeting
        ``{cq_root}/{INTO-target}``. Influx runs CQs on its interval
        ticker; here the host calls :meth:`run_continuous_queries`
        on its own schedule (cron, foreachBatch, the hamonitor
        loop)."""
        import os

        from syncflux_spark.streaming.continuous import ContinuousQuery

        if self.cq_root is None:
            raise InfluxQLError("engine has no cq_root configured")
        if st.name in self.continuous_queries:
            raise InfluxQLError(f"continuous query {st.name!r} already exists")
        cq = ContinuousQuery(
            self, text, os.path.join(self.cq_root, st.select.into)
        )
        self.continuous_queries[st.name] = cq
        return self.spark.createDataFrame([(st.name,)], "created string")

    def run_continuous_queries(self, now_ns: int) -> dict[str, int]:
        """One scheduling tick: advance every registered CQ to the
        buckets complete at ``now_ns``; returns rows written per CQ."""
        return {
            name: cq.run(now_ns)
            for name, cq in self.continuous_queries.items()
        }

    # -- SELECT compilation -------------------------------------------------
    def _select(self, st: SelectStmt) -> DataFrame:
        if st.into is not None:
            return self._select_into(st)
        df = self._resolve(st)
        if st.sub is not None:
            # subquery output: tags are whatever grouped columns the
            # inner select exposes; its time column is the ns long
            tag_cols = [
                t for t in st.sub.group_tags if t in df.columns
            ] or [t for t in self.tags.get(st.measurement, []) if t in df.columns]
        elif st.measurement_regex is not None:
            # the synthesized measurement column is one more tag; the
            # per-measurement tag sets contribute their intersection
            matches = [
                n for n in self.tables if re.search(st.measurement_regex, n)
            ]
            shared = (
                set.intersection(
                    *(set(self.tags.get(n, [])) for n in matches)
                )
                if matches
                else set()
            )
            tag_cols = ["measurement"] + sorted(
                t for t in shared if t in df.columns
            )
        else:
            tag_cols = [
                t for t in self.tags.get(st.measurement, []) if t in df.columns
            ]
        time_col = "ts" if "ts" in df.columns else None

        # 1. WHERE — time range through the pushdown-safe scan helper
        if st.time.lo_ns is not None or st.time.hi_ns is not None:
            lo = st.time.lo_ns if st.time.lo_ns is not None else 0
            hi = st.time.hi_ns if st.time.hi_ns is not None else (1 << 62)
            if time_col is None and "time" in df.columns:
                df = df.where(
                    (F.col("time") >= F.lit(lo)) & (F.col("time") < F.lit(hi))
                )
            else:
                from syncflux_spark.sources.parquet import scan_time_range

                df = scan_time_range(df, lo, hi)
        if st.where is not None:
            df = df.where(self._expr(st.where))

        has_agg = any(self._proj_is_agg(p) for p in st.projs)
        if not has_agg:
            if any(p.transform for p in st.projs):
                return self._raw_transforms(st, df, tag_cols)
            return self._select_raw(st, df, tag_cols, time_col)
        if any(
            p.transform and not self._proj_is_agg(p) for p in st.projs
        ):
            raise InfluxQLError(
                "cannot mix raw-field transformations with aggregates"
            )
        if any(p.func in ("top", "bottom") for p in st.projs):
            return self._select_top_bottom(st, df, tag_cols)
        if any(p.func == "integral" for p in st.projs):
            return self._select_integral(st, df, tag_cols)
        if any(p.func == "sample" for p in st.projs):
            return self._select_sample(st, df, tag_cols)
        return self._select_agg(st, df, tag_cols)

    def _agg_keys_ns(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str]
    ) -> tuple[list[str], Column, Column | None]:
        """Shared (group tags, ns column, bucket column) derivation for
        the order-dependent aggregate paths (integral, sample)."""
        group_tags = list(tag_cols) if st.group_star else [
            t for t in st.group_tags if t in df.columns
        ]
        if "ts_ns" in df.columns:
            ns = F.col("ts_ns")
        elif "ts" in df.columns:
            ns = F.unix_micros("ts") * F.lit(1000)
        elif "time" in df.columns:
            ns = F.col("time")
        else:
            raise InfluxQLError("this aggregate requires a time column")
        bucket = None
        if st.group_time_ns:
            iv, off = st.group_time_ns, st.group_offset_ns
            bucket = (ns - off) - (ns - off) % F.lit(iv) + off
        return group_tags, ns, bucket

    def _select_integral(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str]
    ) -> DataFrame:
        """``integral(field[, unit])``: trapezoidal area under the
        value curve per series (and per GROUP BY time bucket), the
        unit defaulting to 1s like InfluxDB. Compiled as one
        per-series window (lag over event time) producing exact
        per-segment products, then one partial-agg shuffle — the same
        plan family as the native ts_integral. With integer fields the
        segment sum is exact int64 (bound: 2·max|v|·span, see
        queries.py::ts_integral); float fields inherit float-sum
        semantics like InfluxDB itself. Trapezoids are computed WITHIN
        a bucket only (the cross-boundary sliver is dropped, matching
        the per-interval reading of the influx docs); mixing integral
        with other aggregates is rejected."""
        if any(p.func != "integral" for p in st.projs if p.func or p.expr):
            raise InfluxQLError(
                "integral cannot be mixed with other aggregates"
            )
        from pyspark.sql import Window

        group_tags, ns, bucket = self._agg_keys_ns(st, df, tag_cols)
        part = [F.col(t) for t in group_tags]
        if bucket is not None:
            part = [bucket.alias("_bk")] + part
        staged_cols = (
            ([bucket.alias("_bk")] if bucket is not None else [])
            + [F.col(t) for t in group_tags]
            + [ns.alias("_ns")]
            + [F.col(p.field).alias(f"_v{i}") for i, p in enumerate(st.projs)]
        )
        staged = df.select(*staged_cols)
        wkeys = (["_bk"] if bucket is not None else []) + group_tags
        w = Window.partitionBy(*[F.col(k) for k in wkeys]).orderBy("_ns")
        dt_ns = F.col("_ns") - F.lag("_ns").over(w)
        int_types = {"tinyint", "smallint", "int", "bigint"}
        dtypes = dict(staged.dtypes)
        segs = staged.select(
            *[F.col(k) for k in wkeys],
            *[
                (
                    # integer fields: exact decimal(38,0) segment
                    # products — order-free sums, no int64 overflow at
                    # coarse groupings (value·Δns can pass 2^63);
                    # float fields keep InfluxDB's own float-sum
                    # semantics
                    (
                        (F.col(f"_v{i}") + F.lag(f"_v{i}").over(w)).cast(
                            "decimal(38,0)"
                        )
                        * dt_ns.cast("decimal(38,0)")
                    ).alias(f"_seg{i}")
                    if dtypes[f"_v{i}"] in int_types
                    else (
                        (F.col(f"_v{i}") + F.lag(f"_v{i}").over(w))
                        * dt_ns.cast("double")
                    ).alias(f"_seg{i}")
                )
                for i in range(len(st.projs))
            ],
        )
        aggs = []
        for i, p in enumerate(st.projs):
            unit_ns = int(p.arg) if p.arg else 10**9
            aggs.append(
                (
                    F.sum(f"_seg{i}").cast("double")
                    / F.lit(2.0 * unit_ns)
                ).alias(p.out_name)
            )
        grouped = (
            segs.groupBy(*[F.col(k) for k in wkeys]).agg(*aggs)
            if wkeys
            else segs.agg(*aggs)
        )
        sel = (
            [F.col("_bk").alias("time")] if bucket is not None else []
        ) + [F.col(t) for t in group_tags] + [
            F.col(p.out_name) for p in st.projs
        ]
        out = grouped.select(*sel)
        if bucket is not None:
            out = out.orderBy(
                F.desc("time") if st.order_desc else F.asc("time")
            )
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    def _select_sample(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str]
    ) -> DataFrame:
        """``sample(field, N)``: N points per series/bucket with their
        original timestamps. InfluxDB samples with a reservoir
        (nondeterministic); this engine substitutes a deterministic
        uniform draw — rank by md5 of the point's time — so re-runs,
        retries, and the oracle gate all see the same sample. Same
        per-group heap shape as top()/bottom()."""
        if any(p.func != "sample" for p in st.projs if p.func or p.expr):
            raise InfluxQLError("sample cannot be mixed with other aggregates")
        if len(st.projs) != 1:
            raise InfluxQLError("sample takes exactly one projection")
        from pyspark.sql import Window

        p = st.projs[0]
        n = int(p.arg)
        group_tags, ns, bucket = self._agg_keys_ns(st, df, tag_cols)
        wkeys = (["_bk"] if bucket is not None else []) + group_tags
        staged = df.select(
            *([bucket.alias("_bk")] if bucket is not None else []),
            *[F.col(t) for t in group_tags],
            ns.alias("time"),
            F.col(p.field).alias(p.out_name),
        )
        w = (
            Window.partitionBy(*[F.col(k) for k in wkeys])
            if wkeys
            else Window.partitionBy(F.lit(1))
        ).orderBy(F.md5(F.col("time").cast("string")), F.col("time"))
        out = (
            staged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .drop("_rn", *(["_bk"] if bucket is not None else []))
            .orderBy(F.desc("time") if st.order_desc else F.asc("time"))
        )
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    def _select_into(self, st: SelectStmt) -> DataFrame:
        """Standalone ``SELECT ... INTO "dst"`` (outside a CQ): run the
        query once, persist the result as measurement ``dst`` under
        ``{cq_root}/{dst}``, register it for subsequent queries, and
        return InfluxDB's write acknowledgement shape — one series
        ``result`` with columns (time, written). The one-shot
        back-reference downsample idiom (``SELECT mean(v) INTO
        "m_1h" FROM m GROUP BY time(1h)``) this enables is what the
        reference's copy action achieves externally (pkg/agent/
        sync.go:140-204, chunked SELECT → WriteDB); here the write is
        a single overwrite of a parquet table, and re-running is
        idempotent. The written `time` column is the UTC ns epoch, so
        the target re-registers as an ordinary measurement whose time
        column is `time` (the subquery-output convention)."""
        import copy as _copy
        import os

        from pyspark.sql import Observation

        if self.cq_root is None:
            raise InfluxQLError("SELECT INTO requires a cq_root target dir")
        target = st.into
        st = _copy.deepcopy(st)
        st.into = None
        out = self._select(st)
        obs = Observation()
        out = out.observe(obs, F.count(F.lit(1)).alias("n"))
        dst = os.path.join(self.cq_root, target)
        out.write.mode("overwrite").parquet(dst)
        written = int(obs.get["n"])
        # group tags of the source select become the target's tags
        tags = (
            list(self.tags.get(st.measurement, []))
            if st.group_star
            else [t for t in st.group_tags]
        )
        self.register_table(target, self.spark.read.parquet(dst), tags)
        return self.spark.createDataFrame(
            [(0, written)], "time bigint, written bigint"
        )

    def _select_top_bottom(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str]
    ) -> DataFrame:
        """``top(field, N)`` / ``bottom(field, N)`` selectors: up to N
        ROWS per (bucket × series), each carrying its own point time —
        InfluxDB's multi-row selector family, distinct from the
        one-row aggregates. Compiles to a rank window partitioned by
        (bucket, tags) — the ``rank<=N`` filter plans as
        WindowGroupLimit (per-partition top-N heaps), so the fact
        table is never fully sorted. Ties at the N boundary pick the
        earlier point (value, time ordering), and tied (value, time)
        pairs yield identical output rows either way —
    deterministic."""
        sels = [p for p in st.projs if p.func in ("top", "bottom")]
        if len(sels) != 1 or len(st.projs) != 1:
            raise InfluxQLError("top()/bottom() must be the only projection")
        p = sels[0]
        n = int(p.arg or 1)
        group_tags = list(tag_cols) if st.group_star else [
            t for t in st.group_tags if t in df.columns
        ]
        if "ts_ns" in df.columns:
            ns = F.col("ts_ns")
        elif "ts" in df.columns:
            ns = F.unix_micros("ts") * F.lit(1000)
        elif "time" in df.columns:
            ns = F.col("time")
        else:
            raise InfluxQLError("top()/bottom() require a time column")
        parts: list[Column] = [F.col(t) for t in group_tags]
        staged_cols = [ns.alias("_ns"), *group_tags, p.field]
        bucket = None
        if st.group_time_ns:
            iv, off = st.group_time_ns, st.group_offset_ns
            bucket = ((ns - off) - (ns - off) % F.lit(iv) + off).alias("_bucket")
            staged_cols.append(bucket)
            parts = [F.col("_bucket")] + parts
        staged = df.select(*staged_cols)
        v = F.col(p.field)
        order = (
            [F.desc(p.field), F.asc("_ns")]
            if p.func == "top"
            else [F.asc(p.field), F.asc("_ns")]
        )
        w = Window.partitionBy(*parts).orderBy(*order)
        out = (
            staged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= n)
            .select(
                F.col("_ns").alias("time"),
                *group_tags,
                v.alias(p.out_name),
            )
        )
        if st.order_desc:
            out = out.orderBy(F.desc("time"))
        if st.offset:
            out = out.offset(st.offset)
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    def _select_raw(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str], time_col
    ) -> DataFrame:
        cols: list[Column] = []
        has_time = time_col is not None or "time" in df.columns
        if time_col:
            cols.append(F.col("ts_ns").alias("time") if "ts_ns" in df.columns
                        else F.unix_micros(time_col).alias("time"))
        elif "time" in df.columns:  # subquery output carries its bucket
            cols.append(F.col("time"))
        for p in st.projs:
            if p.expr is not None:
                cols.append(self._pexpr_col(p.expr).alias(p.out_name))
            elif p.field == "*":
                used = {time_col, "ts_ns", "time"}
                cols += [F.col(c) for c in df.columns if c not in used]
            else:
                cols.append(F.col(p.field).alias(p.out_name))
        out = df.select(*cols)
        if st.order_desc:
            out = out.orderBy(F.desc("time"))
        elif has_time:
            out = out.orderBy(F.asc("time"))
        if st.offset:
            out = out.offset(st.offset)
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    def _one_partition_if_small(self, df: DataFrame) -> DataFrame:
        """``df`` as one partition when Spark's size estimate of it
        (the optimized plan's ``sizeInBytes``: file bytes for a file
        scan) fits ``spark.sql.files.maxPartitionBytes``, else ``df``.
        An aggregate over one partition needs no exchange, so it runs
        as one Spark job instead of a shuffle-map job plus a result
        job; small inputs are where that fixed cost dominates."""
        jss = self.spark._jsparkSession
        limit = jss.sessionState().conf().filesMaxPartitionBytes()
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        if int(stats.sizeInBytes()) <= limit:
            return df.coalesce(1)
        return df

    def _select_agg(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str]
    ) -> DataFrame:
        import dataclasses

        df = self._one_partition_if_small(df)
        if any(p.func and p.field == "*" for p in st.projs):
            # wildcard aggregate: influx expands count(*) to one
            # aggregate per FIELD, named {func}_{field}
            reserved = set(tag_cols) | {"ts", "ts_ns", "time", "measurement"}
            fields = [c for c in df.columns if c not in reserved]
            expanded: list[Proj] = []
            for p in st.projs:
                if p.func and p.field == "*":
                    expanded += [
                        dataclasses.replace(
                            p, field=fc, alias=p.alias or f"{p.func}_{fc}"
                        )
                        for fc in fields
                    ]
                else:
                    expanded.append(p)
            st = dataclasses.replace(st, projs=expanded)
        group_tags = list(tag_cols) if st.group_star else [
            t for t in st.group_tags if t in df.columns
        ]
        keys: list[Column] = [F.col(t) for t in group_tags]
        if "ts_ns" in df.columns:
            ns = F.col("ts_ns")
        elif "ts" in df.columns:
            ns = F.unix_micros("ts") * F.lit(1000)
        elif "time" in df.columns:  # subquery output bucket
            ns = F.col("time")
        else:
            ns = None
        bucket = None
        if st.group_time_ns:
            if ns is None:
                raise InfluxQLError("GROUP BY time() requires a time column")
            iv, off = st.group_time_ns, st.group_offset_ns
            if st.tzname:
                # tz('<zone>'): buckets align to LOCAL wall-clock
                # boundaries (influx 1.x `tz` clause) while the output
                # `time` stays a UTC ns epoch. The per-row zone offset
                # comes from from_utc_timestamp, so DST is honoured
                # per point; rows in the ambiguous hour around a
                # transition inherit Influx's own caveat (they land in
                # the bucket their post-transition offset implies).
                us = F.floor(ns / F.lit(1000)).cast("long")
                zoff = (
                    F.unix_micros(
                        F.from_utc_timestamp(
                            F.timestamp_micros(us), st.tzname
                        )
                    )
                    - us
                ) * F.lit(1000)
                loc = ns + zoff
                bucket = (
                    (loc - off) - (loc - off) % F.lit(iv) + off - zoff
                ).alias("time")
            else:
                bucket = ((ns - off) - (ns - off) % F.lit(iv) + off).alias(
                    "time"
                )
            keys = [bucket] + keys

        aggs, posts = [], []
        next_idx = 0
        for p in st.projs:
            if p.expr is not None:
                col, next_idx = self._compile_expr_agg(
                    p.expr, next_idx, ns, aggs
                )
                posts.append(col.alias(p.out_name))
            else:
                aggs.extend(self._agg_exprs(p, next_idx, ns))
                posts.append(self._agg_post(p, next_idx))
                next_idx += 1
        out = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        sel = ([F.col("time")] if bucket is not None else []) + [
            F.col(t) for t in group_tags
        ] + posts
        out = out.select(*sel)

        ta = next((p for p in st.projs if p.transform in self._TA_FOLDS), None)
        if ta is not None:
            return self._ta_fold(out, st, group_tags, bucket is not None, ta)
        if any(p.transform for p in st.projs):
            out = self._apply_transforms(out, st, group_tags, bucket is not None)

        if st.group_time_ns and st.fill not in (None, "none"):
            out = self._fill(out, st, group_tags)
        if st.slimit is not None or st.soffset:
            out = self._apply_slimit(out, st, group_tags)
        order = [F.desc("time")] if st.order_desc else (
            [F.asc("time")] if bucket is not None else []
        )
        if order:
            out = out.orderBy(*order)
        if st.offset:
            out = out.offset(st.offset)
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    @staticmethod
    def _apply_slimit(
        out: DataFrame, st: SelectStmt, group_tags: list[str]
    ) -> DataFrame:
        """SLIMIT/SOFFSET: keep a window of SERIES (tag combinations,
        influx's lexicographic series order), orthogonal to the
        row-level LIMIT. dense_rank over the tag ordering runs on the
        aggregated rollup (one row per bucket × series) — a
        single-partition sort of rollup-sized data, same cost class
        as the final ORDER BY time."""
        if not group_tags:
            raise InfluxQLError("SLIMIT requires GROUP BY tag(s)")
        w = Window.orderBy(*[F.col(t) for t in group_tags])
        lo = st.soffset or 0
        hi = lo + (st.slimit if st.slimit is not None else 1 << 31)
        ranked = out.withColumn("_srank", F.dense_rank().over(w))
        return ranked.where(
            (F.col("_srank") > lo) & (F.col("_srank") <= hi)
        ).drop("_srank")

    def _raw_transforms(
        self, st: SelectStmt, df: DataFrame, tag_cols: list[str]
    ) -> DataFrame:
        """Per-POINT transformations over a raw select (no aggregate):
        ``elapsed(field, unit)``, raw ``difference``/``derivative`` —
        windows partitioned by the series tags (GROUP BY * / tags),
        ordered by event time. One per-series exchange, the same
        shuffle the equivalent hand-written window query pays. Rows
        with no predecessor are omitted (InfluxDB semantics). With
        duplicate timestamps inside one series, elapsed is stable
        (equal times → delta 0); value transforms inherit the
        arbitrary tie order — same caveat as InfluxDB itself."""
        if not all(p.transform for p in st.projs):
            raise InfluxQLError(
                "cannot mix raw fields with transformations in one select"
            )
        if st.group_time_ns:
            raise InfluxQLError(
                "transformations over GROUP BY time require an aggregate "
                "argument, e.g. derivative(mean(v), 1h)"
            )
        part = (
            tag_cols
            if st.group_star
            else [t for t in st.group_tags if t in df.columns]
        )
        if "ts_ns" in df.columns:
            ns = F.col("ts_ns")
        elif "ts" in df.columns:
            ns = F.unix_micros("ts") * F.lit(1000)
        elif "time" in df.columns:
            ns = F.col("time")
        else:
            raise InfluxQLError("raw transformations require a time column")
        fields = sorted({p.field for p in st.projs} - set(part))
        staged = df.select(
            ns.alias("_ns"), *[F.col(t) for t in part], *fields
        )
        w = Window.partitionBy(*[F.col(t) for t in part]).orderBy("_ns")
        prev_ns = F.lag("_ns").over(w)
        cols: list[Column] = [F.col("_ns").alias("time")] + [
            F.col(t) for t in part
        ]
        keep: list[Column] = []
        for p in st.projs:
            v = F.col(p.field)
            name = p.out_name
            if p.transform == "elapsed":
                unit = int(p.transform_arg or 1)  # influx default: ns
                res = ((F.col("_ns") - prev_ns) / F.lit(unit)).cast("long")
            elif p.transform in ("difference", "non_negative_difference"):
                res = v - F.lag(p.field).over(w)
                if p.transform == "non_negative_difference":
                    res = F.when(res >= 0, res)
            elif p.transform in ("derivative", "non_negative_derivative"):
                unit = p.transform_arg or 10**9
                dt = (F.col("_ns") - prev_ns).cast("double")
                res = (v - F.lag(p.field).over(w)).cast("double") * F.lit(
                    float(unit)
                ) / dt
                if p.transform == "non_negative_derivative":
                    res = F.when(res >= 0, res)
            elif p.transform == "cumulative_sum":
                res = F.sum(v).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
            else:
                raise InfluxQLError(
                    f"transformation {p.transform!r} needs an aggregate inner"
                )
            cols.append(res.alias(name))
            keep.append(F.col(name).isNotNull())
        out = staged.select(*cols)
        for c in keep:
            out = out.where(c)
        if st.order_desc:
            out = out.orderBy(F.desc("time"))
        if st.offset:
            out = out.offset(st.offset)
        if st.limit is not None:
            out = out.limit(st.limit)
        return out

    def _apply_transforms(
        self, out: DataFrame, st: SelectStmt, group_tags: list[str], has_bucket: bool
    ) -> DataFrame:
        """Selector transformations over the rollup (influx
        "transformations"): derivative / non_negative_derivative /
        difference / moving_average applied per series over the time
        axis. These window over the AGGREGATED output (one row per
        bucket × series), so the sort is on the tiny rollup, never the
        fact table; the partitioning key is the same tag set the
        aggregation just shuffled on, so no extra exchange of the
        fact data. Rows where the transform is undefined (first
        bucket, short moving-average prefix) are omitted, matching
        InfluxDB."""
        if not has_bucket:
            raise InfluxQLError("transformations require GROUP BY time(...)")
        w = Window.partitionBy(*[F.col(t) for t in group_tags]).orderBy("time")
        iv = st.group_time_ns
        keep_defined: list[Column] = []
        for p in st.projs:
            if not p.transform:
                continue
            name = p.out_name
            v = F.col(name)
            if p.transform in ("derivative", "non_negative_derivative"):
                unit = p.transform_arg or 10**9  # influx default: per second
                res = (v - F.lag(name).over(w)) * F.lit(unit / iv)
                if p.transform == "non_negative_derivative":
                    res = F.when(res >= 0, res)
            elif p.transform in ("difference", "non_negative_difference"):
                res = v - F.lag(name).over(w)
                if p.transform == "non_negative_difference":
                    res = F.when(res >= 0, res)
            elif p.transform == "cumulative_sum":
                res = F.sum(v).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
            elif p.transform == "moving_average":
                n = int(p.transform_arg or 2)
                wr = w.rowsBetween(-(n - 1), 0)
                cnt = F.count(v).over(wr)
                res = F.when(
                    cnt == n,
                    F.sum(v).over(wr).cast("double") / F.lit(float(n)),
                )
            else:  # pragma: no cover
                raise InfluxQLError(f"unhandled transform {p.transform!r}")
            out = out.withColumn(name, res)
            keep_defined.append(F.col(name).isNotNull())
        if keep_defined:
            cond = keep_defined[0]
            for c in keep_defined[1:]:
                cond = cond & c
            out = out.where(cond)
        return out

    #: the TA fold family: transform name → member builder. Each
    #: builder takes (proj, N, group interval ns) and returns the
    #: member's :class:`_TaFold`; :meth:`_ta_fold` runs it.
    _TA_FOLDS = {
        "exponential_moving_average": "_apply_ema",
        "relative_strength_index": "_apply_rsi",
        "chande_momentum_oscillator": "_apply_cmo",
        "double_exponential_moving_average": "_apply_ema_cascade",
        "triple_exponential_moving_average": "_apply_ema_cascade",
        "triple_exponential_derivative": "_apply_ema_cascade",
        "kaufmans_efficiency_ratio": "_apply_kaufman",
        "kaufmans_adaptive_moving_average": "_apply_kaufman",
        "holt_winters": "_apply_holt_winters",
        "holt_winters_with_fit": "_apply_holt_winters",
    }

    def _ta_fold(
        self, out: DataFrame, st: SelectStmt, group_tags: list[str],
        has_bucket: bool, p: Proj,
    ) -> DataFrame:
        """The one scaffold of the TA fold family, over a ``GROUP BY
        time`` rollup (one row per bucket × series): validate the
        statement, keep the SLIMIT/SOFFSET series window, run the
        member in one of its two forms, then ORDER/OFFSET/LIMIT.

        * In-row (up to ``fold_stream_threshold`` estimated buckets,
          and always for CMO, which has no stepper): the rollup
          collapses to one row per series — ``_pts`` (time-sorted
          (t, value) structs) and ``_xs`` (the values as doubles, or
          as fixed-point int64 micros for holt_winters) — and the
          member's codegen fold yields (t, v) structs that explode
          back to rows. JVM only, no Python worker; O(B²) prefix
          folds, cheapest below ~100 buckets.
        * Row stream (above the threshold, and for any unbounded
          time range): the rollup rows stream through
          functions/tafold.py::streaming_fold, recurrence state
          carried across Arrow batches — O(B), memory O(batch). The
          member's stepper replays the in-row fold's IEEE op
          sequence, so both forms are bit-identical.
        """
        fname = p.transform
        if not has_bucket:
            raise InfluxQLError(f"{fname} requires GROUP BY time(...)")
        if len(st.projs) != 1:
            raise InfluxQLError(
                f"{fname} must be the only projection in the select"
            )
        n = int(p.transform_arg or 0)
        if n < 1:
            what = "forecast count" if fname.startswith("holt_") else "period"
            raise InfluxQLError(f"{fname} {what} must be >= 1")
        fold = getattr(self, self._TA_FOLDS[fname])(p, n, st.group_time_ns)
        if st.slimit is not None or st.soffset:
            out = self._apply_slimit(out, st, group_tags)
        name, tags = p.out_name, [F.col(t) for t in group_tags]
        est = self._est_buckets(st)
        if fold.stepper is not None and (
            est is None or est > self.fold_stream_threshold
        ):
            src = out.select(
                "time", *group_tags, F.col(name).cast("double").alias(name)
            )
            res = tafold.streaming_fold(
                src, list(group_tags), "time", name, fold.stepper,
                emit_from=fold.emit_from, finisher=fold.finisher,
            )
        else:
            pts = F.array_sort(
                F.collect_list(F.struct(F.col("time").alias("t"), F.col(name)))
            )
            if fold.micros:
                xs = F.transform(
                    "_pts",
                    lambda s: F.floor(s[name] * 1_000_000 + F.lit(0.5)).cast(
                        "long"
                    ),
                )
            else:
                xs = F.transform("_pts", lambda s: s[name].cast("double"))
            g = out.groupBy(*tags).agg(pts.alias("_pts"))
            g, rows = fold.in_row(g.select(*tags, "_pts", xs.alias("_xs")))
            res = g.select(*tags, F.explode(rows).alias("_r")).select(
                F.col("_r.t").alias("time"), *tags, F.col("_r.v").alias(name)
            )
        res = res.orderBy(F.desc("time") if st.order_desc else F.asc("time"))
        if st.offset:
            res = res.offset(st.offset)
        if st.limit is not None:
            res = res.limit(st.limit)
        return res

    @staticmethod
    def _per_bucket(start: int, value_at) -> Column:
        """(t, v) structs for buckets ``start``..B of a collapsed
        series, v = ``value_at(j)`` (j 1-based); empty when the series
        is shorter than ``start``."""
        idx = F.when(
            F.size("_xs") >= start, F.sequence(F.lit(start), F.size("_xs"))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda j: F.struct(
                F.element_at("_pts", j)["t"].alias("t"), value_at(j).alias("v")
            ),
        )

    def _apply_ema(self, p: Proj, n: int, iv: int) -> "_TaFold":
        """``exponential_moving_average(func(v), N)``: one EMA value
        per bucket per series, with InfluxQL's α = 2/(N+1) smoothing
        and EMA₁ = x₁ seeding.

        Determinism: α and β = 1-α are computed ONCE in Python and
        inlined as literals into both the Spark fold and the DuckDB
        oracle, and each step is the fixed two-multiply-one-add
        sequence ``x·α + acc·β`` — individually-rounded IEEE ops in a
        fixed order, so the recurrence is bit-identical across
        engines (reassociation, the usual float hazard, never
        happens; neither engine contracts the step into an FMA).
        In-row, bucket j's EMA is a left fold over the first j
        values."""
        alpha = 2.0 / (n + 1.0)
        beta = 1.0 - alpha

        def ema_at(j):
            return F.aggregate(
                F.slice("_xs", F.lit(2), j - F.lit(1)),
                F.element_at("_xs", F.lit(1)),
                lambda acc, x: x * F.lit(alpha) + acc * F.lit(beta),
            )

        return _TaFold(
            lambda: tafold.ema_stepper(alpha, beta),
            lambda g: (g, self._per_bucket(1, ema_at)),
        )

    def _apply_rsi(self, p: Proj, n: int, iv: int) -> "_TaFold":
        """``relative_strength_index(func(v), N)``: Wilder's RSI per
        bucket per series. Gains and losses of consecutive bucket
        values seed an N-bucket simple average and then smooth by
        Wilder's recurrence ``ag' = (ag·(N-1) + g) / N``; RSI =
        100·ag/(ag+al), emitted from bucket N+1 (matching InfluxDB's
        warm-up), null when the window saw no movement. Every step is
        a fixed sequence of individually-rounded IEEE ops with literal
        constants shared with the oracle — bit-deterministic, same
        argument as ``_apply_ema``."""
        fn, fn1 = float(n), float(n - 1)

        def step(acc, x):
            k = acc["k"] + F.lit(1)
            gain = F.greatest(x - acc["prev"], F.lit(0.0))
            loss = F.greatest(acc["prev"] - x, F.lit(0.0))
            ag = F.when(k <= n, acc["ag"] + gain / F.lit(fn)).otherwise(
                (acc["ag"] * F.lit(fn1) + gain) / F.lit(fn)
            )
            al = F.when(k <= n, acc["al"] + loss / F.lit(fn)).otherwise(
                (acc["al"] * F.lit(fn1) + loss) / F.lit(fn)
            )
            return F.struct(
                x.alias("prev"), ag.alias("ag"), al.alias("al"), k.alias("k")
            )

        def rsi(s):
            return F.when(
                s["ag"] + s["al"] != F.lit(0.0),
                (F.lit(100.0) * s["ag"]) / (s["ag"] + s["al"]),
            )

        seed = F.struct(
            F.element_at("_xs", F.lit(1)).alias("prev"),
            F.lit(0.0).alias("ag"),
            F.lit(0.0).alias("al"),
            F.lit(0).alias("k"),
        )

        def rsi_at(j):  # bucket j's state folds buckets 2..j
            return F.aggregate(
                F.slice("_xs", F.lit(2), j - F.lit(1)), seed, step, rsi
            )

        return _TaFold(
            lambda: tafold.rsi_stepper(n),
            lambda g: (g, self._per_bucket(n + 1, rsi_at)),
            emit_from=n + 1,
        )

    def _apply_cmo(self, p: Proj, n: int, iv: int) -> "_TaFold":
        """``chande_momentum_oscillator(func(v), N)``: CMO =
        100·(ΣU − ΣD)/(ΣU + ΣD) over the last N bucket-to-bucket moves,
        emitted from bucket N+1. Unlike EMA/RSI this is a sliding
        WINDOW sum, not a recurrence: the per-series moves array
        materializes once, then each N-slice is left-folded with
        scalar double accumulators, so the addition order is fixed and
        the oracle match is bit-exact (a window-function SUM would
        reassociate). Null when the window saw no movement. The
        window is O(N) per bucket, so CMO has only the in-row form."""

        def step(acc, d):
            return F.struct(
                (acc["u"] + F.greatest(d, F.lit(0.0))).alias("u"),
                (acc["d"] + F.greatest(-d, F.lit(0.0))).alias("d"),
            )

        def cmo(s):
            return F.when(
                s["u"] + s["d"] != F.lit(0.0),
                (F.lit(100.0) * (s["u"] - s["d"])) / (s["u"] + s["d"]),
            )

        def cmo_at(j):  # the N moves ending at bucket j: _d[j-N .. j-1]
            return F.aggregate(
                F.slice("_d", j - F.lit(n), F.lit(n)),
                F.struct(F.lit(0.0).alias("u"), F.lit(0.0).alias("d")),
                step,
                cmo,
            )

        def in_row(g):
            # move i = x_{i+1} - x_i
            moves = F.transform(
                F.sequence(F.lit(1), F.size("_xs") - F.lit(1)),
                lambda i: F.element_at("_xs", i + F.lit(1))
                - F.element_at("_xs", i),
            )
            g = g.withColumn("_d", moves)
            return g, self._per_bucket(n + 1, cmo_at)

        return _TaFold(None, in_row, emit_from=n + 1)

    def _apply_ema_cascade(self, p: Proj, n: int, iv: int) -> "_TaFold":
        """DEMA / TEMA / TRIX: the three-level EMA cascade e1→e2→e3
        advances all levels in ONE fold step (e1' = αx+βe1, e2' =
        αe1'+βe2, e3' = αe2'+βe3, all seeded at x₁), then

        * ``double_exponential_moving_average`` = 2·e1 − e2 (from
          bucket 1),
        * ``triple_exponential_moving_average`` = (3·e1 − 3·e2) + e3,
        * ``triple_exponential_derivative`` (TRIX) =
          100·(e3ⱼ − e3ⱼ₋₁)/e3ⱼ₋₁ (from bucket 2; null at zero). The
          fold state carries the previous e3 as ``p3``.

        Bit-determinism as in ``_apply_ema``: literal α/β shared with
        the oracle, fixed op order."""
        alpha = 2.0 / (n + 1.0)
        beta = 1.0 - alpha
        kind = p.transform

        def step(acc, x):
            e1 = x * F.lit(alpha) + acc["e1"] * F.lit(beta)
            e2 = e1 * F.lit(alpha) + acc["e2"] * F.lit(beta)
            e3 = e2 * F.lit(alpha) + acc["e3"] * F.lit(beta)
            return F.struct(
                e1.alias("e1"), e2.alias("e2"), e3.alias("e3"),
                acc["e3"].alias("p3"),
            )

        def value(s):
            if kind == "double_exponential_moving_average":
                return F.lit(2.0) * s["e1"] - s["e2"]
            if kind == "triple_exponential_moving_average":
                return (F.lit(3.0) * s["e1"] - F.lit(3.0) * s["e2"]) + s["e3"]
            return F.when(
                s["p3"] != F.lit(0.0),
                (F.lit(100.0) * (s["e3"] - s["p3"])) / s["p3"],
            )

        def value_at(j):
            x1 = F.element_at("_xs", F.lit(1))
            seed = F.struct(
                x1.alias("e1"), x1.alias("e2"), x1.alias("e3"),
                F.lit(None).cast("double").alias("p3"),
            )
            return F.aggregate(
                F.slice("_xs", F.lit(2), j - F.lit(1)), seed, step, value
            )

        start = 2 if kind == "triple_exponential_derivative" else 1
        return _TaFold(
            lambda: tafold.cascade_stepper(alpha, beta, kind),
            lambda g: (g, self._per_bucket(start, value_at)),
            emit_from=start,
        )

    #: Kaufman adaptive-MA smoothing-constant bounds (InfluxDB fixed):
    #: fast EMA period 2, slow period 30 → α_fast = 2/3, α_slow = 2/31
    _KAMA_FAST = 2.0 / 3.0
    _KAMA_SLOW = 2.0 / 31.0
    _KAMA_SPREAD = _KAMA_FAST - _KAMA_SLOW

    def _apply_kaufman(self, p: Proj, n: int, iv: int) -> "_TaFold":
        """``kaufmans_efficiency_ratio(func(v), N)`` and
        ``kaufmans_adaptive_moving_average(func(v), N)``.

        ER_j = |x_j − x_{j−N}| / Σ|moves| over the window (the Σ is a
        fixed-order slice fold), emitted from bucket N+1; null when
        the window saw no movement. KAMA seeds at x_{N+1} and then
        follows kama' = kama + sc²·(x − kama) with
        sc = er₀·(α_fast − α_slow) + α_slow (er₀ treats a flat window
        as 0, keeping the recurrence defined). All constants are
        Python-computed literals shared with the recursive-CTE
        oracle; op order is fixed — bit-exact."""
        # plain locals: the stepper closure is pickled to the Python
        # workers — capturing self would drag the session
        spread, slow = self._KAMA_SPREAD, self._KAMA_SLOW
        er = p.transform == "kaufmans_efficiency_ratio"

        def er_at(j, otherwise=None):
            # |x_j − x_{j−N}| / Σ of the N |moves| ending at bucket j
            num = F.abs(
                F.element_at("_xs", j) - F.element_at("_xs", j - F.lit(n))
            )

            def ratio(den):
                r = F.when(den != F.lit(0.0), num / den)
                return r if otherwise is None else r.otherwise(otherwise)

            return F.aggregate(
                F.slice("_ad", j - F.lit(n), F.lit(n)),
                F.lit(0.0),
                lambda acc, x: acc + x,
                ratio,
            )

        def kama_at(j):
            # fold buckets N+2..j; the acc carries the CURRENT bucket
            # index k so the step can read the window behind x_k
            def step(acc, x):
                k = acc["k"] + F.lit(1)
                sc = er_at(k, F.lit(0.0)) * F.lit(spread) + F.lit(slow)
                sc2 = sc * sc
                kama = acc["kama"] + sc2 * (x - acc["kama"])
                return F.struct(kama.alias("kama"), k.alias("k"))

            seed = F.struct(
                F.element_at("_xs", F.lit(n + 1)).alias("kama"),
                F.lit(n + 1).alias("k"),
            )
            return F.aggregate(
                F.slice("_xs", F.lit(n + 2), j - F.lit(n + 1)), seed, step
            )["kama"]

        def in_row(g):
            ad = F.transform(
                F.sequence(F.lit(1), F.size("_xs") - F.lit(1)),
                lambda i: F.abs(
                    F.element_at("_xs", i + F.lit(1)) - F.element_at("_xs", i)
                ),
            )
            return g.withColumn("_ad", ad), self._per_bucket(
                n + 1, er_at if er else kama_at
            )

        return _TaFold(
            (lambda: tafold.er_stepper(n))
            if er
            else (lambda: tafold.kama_stepper(n, spread, slow)),
            in_row,
            emit_from=n + 1,
        )

    def _apply_holt_winters(self, p: Proj, n_fc: int, iv: int) -> "_TaFold":
        """``holt_winters(func(v), N, S)``: N forecast buckets past
        each series' end, spaced by the group interval. Follows the
        engine's deterministic HW variant (see
        queries.py::ts_holt_winters): additive level + trend with
        dyadic α=1/2, β=1/4 run in fixed-point int64 micros —
        InfluxDB fits α/β per query by Nelder-Mead, which is
        non-reproducible across builds, so this dialect documents
        fixed constants instead. S > 0 adds the additive seasonal
        component (:meth:`_apply_holt_winters_seasonal`).
        ``holt_winters_with_fit`` additionally emits the one-step-
        ahead fitted value for every input bucket before the
        forecasts (non-seasonal form only): bucket i's fit is
        l + b of the state after bucket i-1; bucket 1's fit is its
        own value (the seed state)."""
        season = int(p.transform_arg2 or 0)
        if season < 0:
            raise InfluxQLError("holt_winters seasonal period must be >= 0")
        with_fit = p.transform == "holt_winters_with_fit"
        if season > 0:
            if with_fit:
                raise InfluxQLError(
                    "holt_winters_with_fit supports S=0 only; use "
                    "holt_winters for the seasonal form"
                )
            return self._apply_holt_winters_seasonal(n_fc, iv, season)

        def step(acc, x):
            l_new = _floordiv(x + acc["l"] + acc["b"], 2)
            b_new = _floordiv(l_new - acc["l"], 4) + (
                acc["b"] - _floordiv(acc["b"], 4)
            )
            return F.struct(l_new.alias("l"), b_new.alias("b"))

        seed = F.struct(
            F.element_at("_xs", F.lit(1)).alias("l"),
            F.lit(0).cast("long").alias("b"),
        )

        def fit_at(i):
            return F.when(
                i == 1, F.element_at("_xs", i).cast("double") / F.lit(1e6)
            ).otherwise(
                F.aggregate(
                    F.slice("_xs", F.lit(2), i - F.lit(2)), seed, step,
                    lambda s: (s["l"] + s["b"]) / F.lit(1e6),
                )
            )

        def in_row(g):
            g = g.withColumn(
                "_fin",
                F.aggregate(
                    F.slice("_xs", F.lit(2), F.size("_xs") - F.lit(1)),
                    seed, step,
                ),
            )
            last_t = F.element_at("_pts", -1)["t"]
            rows = F.transform(
                F.sequence(F.lit(1), F.lit(n_fc)),
                lambda h: F.struct(
                    (last_t + h.cast("long") * F.lit(iv)).alias("t"),
                    (
                        (F.col("_fin.l") + h.cast("long") * F.col("_fin.b"))
                        / F.lit(1e6)
                    ).alias("v"),
                ),
            )
            if with_fit:
                rows = F.concat(self._per_bucket(1, fit_at), rows)
            return g, rows

        return _TaFold(
            lambda: tafold.hw_stream_stepper(with_fit),
            in_row,
            emit_from=1 if with_fit else float("inf"),
            finisher=tafold.hw_finisher(n_fc, iv),
            micros=True,
        )

    def _apply_holt_winters_seasonal(
        self, n_fc: int, iv: int, season: int
    ) -> "_TaFold":
        """Additive seasonal Holt-Winters (dyadic α=1/2 β=1/4 γ=1/2,
        fixed-point int64 micros): the fold state is (level, trend,
        bucket counter, S-slot season array). Bucket t (slot =
        (t−1) mod S, season seeded at zero):

            l_t = ⌊(x_t − c[slot] + l + b) / 2⌋
            b_t = ⌊(l_t − l)/4⌋ + (b − ⌊b/4⌋)
            c[slot] ← ⌊(x_t − l_t)/2⌋ + (c[slot] − ⌊c[slot]/2⌋)

        forecast_h = l_T + h·b_T + c[(T−1+h) mod S]. All integer
        ops — the recursive-CTE oracle carrying the season LIST
        column replays the sequence exactly. State adds S longs per
        series to the non-seasonal form's."""
        S = season

        def step(acc, x):
            k = acc["k"] + F.lit(1)
            slot = (k - F.lit(1)) % F.lit(S)
            cs = F.element_at(acc["c"], slot + F.lit(1))
            l_new = _floordiv(x - cs + acc["l"] + acc["b"], 2)
            b_new = _floordiv(l_new - acc["l"], 4) + (
                acc["b"] - _floordiv(acc["b"], 4)
            )
            c_upd = _floordiv(x - l_new, 2) + (cs - _floordiv(cs, 2))
            c_new = F.transform(
                acc["c"],
                lambda v, i: F.when(i == slot, c_upd).otherwise(v),
            )
            return F.struct(
                l_new.alias("l"),
                b_new.alias("b"),
                k.alias("k"),
                c_new.alias("c"),
            )

        seed = F.struct(
            F.element_at("_xs", F.lit(1)).alias("l"),
            F.lit(0).cast("long").alias("b"),
            F.lit(1).alias("k"),
            F.array_repeat(F.lit(0).cast("long"), S).alias("c"),
        )

        def in_row(g):
            g = g.withColumn(
                "_fin",
                F.aggregate(
                    F.slice("_xs", F.lit(2), F.size("_xs") - F.lit(1)),
                    seed, step,
                ),
            )
            last_t = F.element_at("_pts", -1)["t"]
            rows = F.transform(
                F.sequence(F.lit(1), F.lit(n_fc)),
                lambda h: F.struct(
                    (last_t + h.cast("long") * F.lit(iv)).alias("t"),
                    (
                        (
                            F.col("_fin.l")
                            + h.cast("long") * F.col("_fin.b")
                            + F.element_at(
                                "_fin.c",
                                ((F.size("_xs") + h - F.lit(1)) % F.lit(S))
                                + F.lit(1),
                            )
                        )
                        / F.lit(1e6)
                    ).alias("v"),
                ),
            )
            return g, rows

        return _TaFold(
            lambda: tafold.hw_seasonal_stepper(S),
            in_row,
            emit_from=float("inf"),
            finisher=tafold.hw_seasonal_finisher(n_fc, iv, S),
            micros=True,
        )

    def _agg_exprs(self, p: Proj, idx: int, ns: Column | None = None) -> list[Column]:
        """Partial-aggregable pieces for projection ``idx``; the final
        value is assembled by :meth:`_agg_post`. Everything is a stock
        hash-agg function → map-side partial aggregation before the
        single shuffle."""
        v = F.col(p.field)
        n = f"_a{idx}"
        fn = p.func
        if fn == "count":
            return [F.count(v).alias(n)]
        if fn == "count_distinct":
            return [F.countDistinct(v).alias(n)]
        if fn == "sum":
            return [F.sum(v).alias(n)]
        if fn == "mean":
            return [F.sum(v).alias(f"{n}s"), F.count(v).alias(f"{n}c")]
        if fn == "min":
            return [F.min(v).alias(n)]
        if fn == "max":
            return [F.max(v).alias(n)]
        if fn == "spread":
            return [F.min(v).alias(f"{n}mn"), F.max(v).alias(f"{n}mx")]
        if fn == "stddev":
            return [F.stddev_samp(v).alias(n)]
        if fn in ("first", "last"):
            if ns is None:
                raise InfluxQLError(f"{fn}() requires a time column")
            # value at min/max time; ties (same ns) break through the
            # struct's value ordering — deterministic
            agg = F.min if fn == "first" else F.max
            return [agg(F.struct(ns.alias("t"), v.alias(p.field))).alias(n)]
        if fn in ("median", "percentile"):
            return [F.sort_array(F.collect_list(v)).alias(n)]
        if fn == "mode":
            return [F.sort_array(F.collect_list(v)).alias(n)]
        if fn == "distinct":
            return [F.array_sort(F.collect_set(v)).alias(n)]
        raise InfluxQLError(f"unsupported aggregate {fn!r}")

    # -- projection arithmetic compilation ---------------------------------
    @staticmethod
    def _expr_calls(e) -> list[PCall]:
        if isinstance(e, PCall):
            return [e]
        if isinstance(e, PBin):
            return InfluxQLEngine._expr_calls(e.left) + InfluxQLEngine._expr_calls(e.right)
        if isinstance(e, PFunc):
            return [c for a in e.args for c in InfluxQLEngine._expr_calls(a)]
        return []

    @staticmethod
    def _proj_is_agg(p: Proj) -> bool:
        if p.expr is not None:
            return bool(InfluxQLEngine._expr_calls(p.expr))
        return bool(p.func)

    def _pexpr_col(self, e) -> Column:
        """Raw-select arithmetic: compile the expression tree to a
        plain column expression (codegen-side, no UDF). InfluxQL
        null-propagation (null operand → null result) is Spark's
        native arithmetic semantics."""
        if isinstance(e, (PNum, PStr)):
            return F.lit(e.value)
        if isinstance(e, PVar):
            return F.col(e.name)
        if isinstance(e, PBin):
            lhs, rhs = self._pexpr_col(e.left), self._pexpr_col(e.right)
            if e.op == "+":
                return lhs + rhs
            if e.op == "-":
                return lhs - rhs
            if e.op == "*":
                return lhs * rhs
            return lhs / rhs
        if isinstance(e, PFunc):
            return _math_col(e.name, [self._pexpr_col(a) for a in e.args])
        raise InfluxQLError(
            "aggregate calls cannot appear in a raw projection"
        )

    def _compile_expr_agg(
        self, e, next_idx: int, ns: Column | None, aggs: list[Column]
    ) -> tuple[Column, int]:
        """Aggregate-select arithmetic (``mean(a) + mean(b)``,
        ``sum(v) * 2``): every aggregate call in the tree gets its own
        partial-agg slot (appended to ``aggs`` — still ONE hash
        aggregation, one shuffle), and the arithmetic combines the
        finished aggregates post-shuffle."""
        if isinstance(e, PNum):
            return F.lit(e.value), next_idx
        if isinstance(e, PVar):
            raise InfluxQLError(
                f"field {e.name!r} cannot be mixed with aggregates "
                "(wrap it in an aggregate function)"
            )
        if isinstance(e, PCall):
            aggs.extend(self._agg_exprs(e.proj, next_idx, ns))
            return self._agg_post_col(e.proj, next_idx), next_idx + 1
        if isinstance(e, PBin):
            lhs, next_idx = self._compile_expr_agg(e.left, next_idx, ns, aggs)
            rhs, next_idx = self._compile_expr_agg(e.right, next_idx, ns, aggs)
            if e.op == "+":
                return lhs + rhs, next_idx
            if e.op == "-":
                return lhs - rhs, next_idx
            if e.op == "*":
                return lhs * rhs, next_idx
            return lhs / rhs, next_idx
        if isinstance(e, PFunc):
            cols: list[Column] = []
            for a in e.args:
                c, next_idx = self._compile_expr_agg(a, next_idx, ns, aggs)
                cols.append(c)
            return _math_col(e.name, cols), next_idx
        raise InfluxQLError(f"bad projection expression node {e!r}")

    def _agg_post(self, p: Proj, idx: int) -> Column:
        return self._agg_post_col(p, idx).alias(p.out_name)

    def _agg_post_col(self, p: Proj, idx: int) -> Column:
        n = f"_a{idx}"
        fn = p.func
        if fn in ("count", "count_distinct", "sum", "min", "max", "stddev"):
            return F.col(n)
        if fn == "mean":
            return F.col(f"{n}s") / F.col(f"{n}c")
        if fn == "spread":
            return F.col(f"{n}mx") - F.col(f"{n}mn")
        if fn in ("first", "last"):
            return F.col(n).getField(p.field)
        if fn == "median":
            return self._nearest_rank(n, 50.0)
        if fn == "percentile":
            return self._nearest_rank(n, float(p.arg))
        if fn == "mode":
            # most frequent value, ties to the lowest: fold over the
            # sorted array counting runs — no second shuffle
            return F.expr(
                f"""aggregate({n},
                    struct(CAST(NULL AS DOUBLE) AS best, 0L AS bestn,
                           CAST(NULL AS DOUBLE) AS cur, 0L AS curn),
                    (acc, x) -> CASE
                      WHEN acc.cur IS NOT NULL AND x = acc.cur THEN
                        struct(acc.best AS best, acc.bestn AS bestn,
                               acc.cur AS cur, acc.curn + 1L AS curn)
                      ELSE struct(
                        CASE WHEN acc.curn > acc.bestn THEN acc.cur ELSE acc.best END AS best,
                        CASE WHEN acc.curn > acc.bestn THEN acc.curn ELSE acc.bestn END AS bestn,
                        CAST(x AS DOUBLE) AS cur, 1L AS curn) END,
                    acc -> CASE WHEN acc.curn > acc.bestn THEN acc.cur
                                ELSE acc.best END)"""
            )
        if fn == "distinct":
            return F.col(n)
        raise InfluxQLError(f"unsupported aggregate {fn!r}")

    @staticmethod
    def _nearest_rank(arr_col: str, pct: float) -> Column:
        """InfluxQL percentile: the field value at position
        ``ceil(pct/100 * n)`` of the ascending sort (an actual sample,
        not an interpolation)."""
        sz = F.size(F.col(arr_col))
        pos = F.greatest(
            F.lit(1), F.ceil(sz.cast("double") * F.lit(pct / 100.0)).cast("int")
        )
        return F.when(sz > 0, F.element_at(F.col(arr_col), pos))

    def _fill(self, out: DataFrame, st: SelectStmt, group_tags: list[str]) -> DataFrame:
        """Densify the time grid: spine from min/max bucket via
        ``sequence`` (no driver round-trip), cross-join the distinct
        tag combinations (broadcast — the grid is tiny next to the
        fact aggregate), left-join the real rollup, then fill."""
        iv = st.group_time_ns
        spine = out.agg(
            F.min("time").alias("mn"), F.max("time").alias("mx")
        ).select(F.explode(F.sequence("mn", "mx", F.lit(iv))).alias("time"))
        if group_tags:
            combos = out.select(*group_tags).distinct()
            grid = spine.crossJoin(F.broadcast(combos))
        else:
            grid = spine
        joined = grid.join(out, ["time"] + group_tags, "left")
        value_cols = [c for c in out.columns if c not in ["time"] + group_tags]
        if st.fill == "null":
            return joined
        if isinstance(st.fill, float):
            # cast the fill literal to each column's own type so
            # fill(0) keeps integer counts integer
            types = dict(joined.dtypes)
            return joined.select(
                "time",
                *group_tags,
                *[
                    F.coalesce(F.col(c), F.lit(st.fill).cast(types[c])).alias(c)
                    for c in value_cols
                ],
            )
        if st.fill == "previous":
            w = (
                Window.partitionBy(*group_tags)
                .orderBy("time")
                .rowsBetween(Window.unboundedPreceding, 0)
                if group_tags
                else Window.orderBy("time").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            return joined.select(
                "time",
                *group_tags,
                *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in value_cols],
            )
        if st.fill == "linear":
            part = list(group_tags)
            wprev = (
                Window.partitionBy(*part).orderBy("time")
                .rowsBetween(Window.unboundedPreceding, 0)
            )
            wnext = (
                Window.partitionBy(*part).orderBy("time")
                .rowsBetween(0, Window.unboundedFollowing)
            )
            cols = ["time", *group_tags]
            sel = list(cols)
            for c in value_cols:
                pv = F.last(F.col(c), ignorenulls=True).over(wprev)
                pt = F.last(
                    F.when(F.col(c).isNotNull(), F.col("time")), ignorenulls=True
                ).over(wprev)
                nv = F.first(F.col(c), ignorenulls=True).over(wnext)
                nt = F.first(
                    F.when(F.col(c).isNotNull(), F.col("time")), ignorenulls=True
                ).over(wnext)
                interp = pv + (nv - pv) * (
                    (F.col("time") - pt).cast("double") / (nt - pt).cast("double")
                )
                sel.append(
                    F.when(F.col(c).isNotNull(), F.col(c))
                    .otherwise(
                        F.when(pt.isNotNull() & nt.isNotNull(), interp)
                    )
                    .alias(c)
                )
            return joined.select(*sel)
        raise InfluxQLError(f"unsupported fill {st.fill!r}")

    # -- WHERE non-time predicates -----------------------------------------
    def _expr(self, e: Expr) -> Column:
        if e.op == "and":
            return self._expr(e.left) & self._expr(e.right)
        if e.op == "or":
            return self._expr(e.left) | self._expr(e.right)
        if e.op == "regex":
            # InfluxDB matches regexes against the STRING form of tag
            # (and string-field) values; a numeric-typed tag column
            # here is still matched on its string rendering
            c = F.col(e.key).cast("string").rlike(e.value)
            return c if e.cmp == "=~" else ~c
        if e.lhs is not None:
            c = self._pexpr_col(e.lhs)
            v = self._pexpr_col(e.rhs)
        else:
            c = F.col(e.key)
            v = F.lit(e.value)
        return {
            "=": c == v,
            "!=": c != v,
            "<>": c != v,
            "<": c < v,
            "<=": c <= v,
            ">": c > v,
            ">=": c >= v,
        }[e.cmp]

    # -- SHOW / DDL ---------------------------------------------------------
    def _show(self, st: ShowStmt) -> DataFrame:
        if st.what.endswith("cardinality"):
            return self._show_cardinality_exec(st)
        if st.what == "stats":
            # per-measurement row counts + series cardinality — the
            # monitoring surface admin dashboards poll; distributed
            # exact counts, one scan per registered measurement
            rows = []
            for name in sorted(self.tables):
                df = self.tables[name]
                tgs = [
                    t for t in self.tags.get(name, []) if t in df.columns
                ]
                n = df.count()
                n_series = (
                    df.select(*tgs).distinct().count() if tgs else 1
                )
                rows.append((name, n, n_series))
            return self.spark.createDataFrame(
                rows, "measurement string, n_rows long, n_series long"
            )
        if st.what == "diagnostics":
            import pyspark

            rows = [
                ("build", "engine", "syncflux-spark"),
                ("build", "spark_version", pyspark.__version__),
                ("runtime", "master", self.spark.sparkContext.master),
                (
                    "runtime",
                    "shuffle_partitions",
                    self.spark.conf.get("spark.sql.shuffle.partitions"),
                ),
                (
                    "runtime",
                    "measurements",
                    str(len(self.tables)),
                ),
                (
                    "runtime",
                    "continuous_queries",
                    str(len(self.continuous_queries)),
                ),
            ]
            return self.spark.createDataFrame(
                rows, "section string, name string, value string"
            )
        if st.what == "databases":
            if self.catalog is not None:
                names = self.catalog.get_databases()
            else:
                names = sorted(self.tables)
            return self.spark.createDataFrame([(n,) for n in names], "name string")
        if st.what in ("tag values", "series"):
            return self._show_data(st)
        if st.what == "measurements" and self.catalog is None:
            return self.spark.createDataFrame(
                [(n,) for n in sorted(self.tables)], "name string"
            )
        if st.what == "tag keys" and self.catalog is None:
            if st.measurement is None or st.measurement not in self.tags:
                raise InfluxQLError("SHOW TAG KEYS requires FROM <measurement>")
            return self.spark.createDataFrame(
                [(t,) for t in sorted(self.tags[st.measurement])],
                "tagKey string",
            )
        if st.what == "field keys" and self.catalog is None:
            if st.measurement is None or st.measurement not in self.tables:
                raise InfluxQLError(
                    "SHOW FIELD KEYS requires FROM <measurement>"
                )
            from syncflux_spark.catalog import SPARK_TO_INFLUX

            tgs = set(self.tags.get(st.measurement, []))
            rows = [
                (c, SPARK_TO_INFLUX.get(t, "string"))
                for c, t in self.tables[st.measurement].dtypes
                if c not in tgs and c not in ("ts", "ts_ns", "time")
            ]
            return self.spark.createDataFrame(
                sorted(rows), "fieldKey string, fieldType string"
            )
        if st.what == "continuous queries":
            rows = [
                (name, cq.stmt.select.into, cq.iv_ns)
                for name, cq in sorted(self.continuous_queries.items())
            ]
            return self.spark.createDataFrame(
                rows, "name string, target string, interval_ns long"
            )
        cat = self._require_catalog()
        if st.what == "retention policies":
            rows = [
                (r.name, r.duration, r.shard_duration, r.n_replicas, r.default)
                for r in cat.get_retention_policies(st.db)
            ]
            return self.spark.createDataFrame(
                rows,
                "name string, duration string, shardGroupDuration string, "
                "replicaN int, `default` boolean",
            )
        if st.what == "measurements":
            rows = [(m,) for m in cat.get_measurements(st.db)]
            return self.spark.createDataFrame(rows, "name string")
        if st.what == "field keys":
            fields = cat.get_fields(st.db, st.measurement)
            rows = [(f.name, f.type) for f in fields.values()]
            return self.spark.createDataFrame(
                sorted(rows), "fieldKey string, fieldType string"
            )
        if st.what == "tag keys":
            rows = [(t,) for t in cat.get_tags(st.db, st.measurement)]
            return self.spark.createDataFrame(rows, "tagKey string")
        raise InfluxQLError(f"unhandled SHOW {st.what!r}")

    def _show_cardinality_exec(self, st: ShowStmt) -> DataFrame:
        """SHOW ... CARDINALITY (influx 1.4+): EXACT counts, computed
        as distributed distinct-aggregations over the registered
        tables — Influx's own non-exact variants estimate with HLL,
        but an engine that can afford one shuffle per count has no
        reason to return estimates. Single (count) row, summed over
        the matched measurements."""
        names = (
            [st.measurement]
            if st.measurement is not None
            else sorted(self.tables)
        )
        for n in names:
            if n not in self.tables:
                raise InfluxQLError(f"unknown measurement {n!r}")
        if st.what == "measurement cardinality":
            return self.spark.createDataFrame(
                [(len(self.tables),)], "count bigint"
            )
        if st.what == "series cardinality":
            parts = []
            for n in names:
                tgs = [
                    t
                    for t in self.tags.get(n, [])
                    if t in self.tables[n].columns
                ]
                d = (
                    self.tables[n].select(*tgs).distinct()
                    if tgs
                    else self.tables[n].limit(1)
                )
                parts.append(d.agg(F.count(F.lit(1)).alias("count")))
            out = parts[0]
            for p in parts[1:]:
                out = out.unionAll(p)
            return out.agg(F.sum("count").cast("long").alias("count"))
        if st.what == "tag key cardinality":
            n = len({t for m in names for t in self.tags.get(m, [])})
            return self.spark.createDataFrame([(n,)], "count bigint")
        if st.what == "field key cardinality":
            fields = set()
            for m in names:
                tgs = set(self.tags.get(m, []))
                fields |= {
                    c
                    for c in self.tables[m].columns
                    if c not in tgs and c not in ("ts", "ts_ns", "time")
                }
            return self.spark.createDataFrame(
                [(len(fields),)], "count bigint"
            )
        # tag values cardinality
        if st.tag_key is None:
            raise InfluxQLError(
                "SHOW TAG VALUES CARDINALITY requires WITH KEY = <k>"
            )
        parts = [
            self.tables[m].select(F.col(st.tag_key).alias("v"))
            for m in names
            if st.tag_key in self.tables[m].columns
        ]
        if not parts:
            raise InfluxQLError(f"tag {st.tag_key!r} not found")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out.distinct().agg(F.count(F.lit(1)).alias("count"))

    def _show_data(self, st: ShowStmt) -> DataFrame:
        """SHOW statements that scan data (tag values / series) — one
        column-pruned distinct per statement, pushed to the scan."""
        if st.measurement is None:
            raise InfluxQLError(f"SHOW {st.what.upper()} requires FROM <measurement>")
        df = self._resolve(
            SelectStmt(projs=[], measurement=st.measurement, db=st.db)
        )
        meas_tags = self._tags_for(st.measurement, st.db)
        if st.what == "tag values":
            key = st.tag_key
            if key not in df.columns:
                raise InfluxQLError(f"unknown tag key {key!r}")
            return (
                df.select(
                    F.lit(key).alias("key"),
                    F.col(key).cast("string").alias("value"),
                )
                .where(F.col("value").isNotNull())
                .distinct()
            )
        if st.what == "series":
            if not meas_tags:
                raise InfluxQLError("SHOW SERIES requires registered tag columns")
            parts = [F.lit(st.measurement)]
            for t in sorted(meas_tags):
                parts.append(F.lit(f",{t}="))
                parts.append(F.col(t).cast("string"))
            return (
                df.select(F.concat(*parts).alias("key")).distinct()
            )
        raise InfluxQLError(f"unhandled SHOW {st.what!r}")

    def _delete(self, st: DeleteStmt) -> DataFrame:
        """DELETE FROM m WHERE time ... — storage-backed expiry via
        the catalog's staging-rewrite (parquet has no in-place DELETE;
        same mechanics as enforce_retention). Requires a catalog and a
        session db; the deleted window is a pushed-down range filter,
        so untouched row groups are read once and rewritten only when
        the table actually held rows in range."""
        cat = self._require_catalog()
        db = st.db or self.db
        if db is None:
            raise InfluxQLError("DELETE requires a database context")
        lo = st.time.lo_ns
        hi = st.time.hi_ns
        if lo is None and hi is None and st.where is None and not st.drop_series:
            # bare DELETE is guarded; bare DROP SERIES FROM m is valid
            # InfluxQL meaning "drop every series of the measurement"
            raise InfluxQLError("DELETE requires a time or tag predicate")
        deleted: list[tuple[str, int]] = []
        for tbl in self.spark.catalog.listTables(db):
            if not tbl.name.endswith(f"__{st.measurement}"):
                continue
            full = f"{_bq(db)}.{_bq(tbl.name)}"
            tdf = self.spark.table(full)
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col("time_ns") >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col("time_ns") < F.lit(hi))
            if st.where is not None:
                # tags only: a field predicate in DELETE is rejected
                # like InfluxDB ("fields not supported")
                tags = set(cat.get_tags(db, st.measurement))
                for key in self._expr_keys(st.where):
                    if key not in tags:
                        raise InfluxQLError(
                            f"DELETE predicates may reference tags only, "
                            f"got {key!r}"
                        )
                cond = cond & self._expr(st.where)
            n = tdf.where(cond).count()
            deleted.append((tbl.name, n))
            if n == 0:
                continue
            keep = tdf.where(~cond)
            keep.createOrReplaceTempView("__delete_keep")
            staging = f"{_bq(db)}.{_bq(tbl.name + '__delete_tmp')}"
            self.spark.sql(f"DROP TABLE IF EXISTS {staging}")
            self.spark.sql(
                f"CREATE TABLE {staging} USING PARQUET AS "
                f"SELECT * FROM __delete_keep"
            )
            self.spark.sql(f"INSERT OVERWRITE TABLE {full} SELECT * FROM {staging}")
            self.spark.sql(f"DROP TABLE {staging}")
            self.spark.catalog.dropTempView("__delete_keep")
        return self.spark.createDataFrame(
            deleted or [("", 0)], "table string, rows_deleted long"
        )

    @staticmethod
    def _expr_keys(e: Expr) -> list[str]:
        """All column keys referenced by a WHERE tree (cmp/regex keys
        plus any PVar names inside arithmetic comparisons)."""
        if e.op in ("and", "or"):
            return InfluxQLEngine._expr_keys(e.left) + InfluxQLEngine._expr_keys(
                e.right
            )
        keys = [e.key] if e.key is not None else []

        def pvars(t) -> list[str]:
            if isinstance(t, PVar):
                return [t.name]
            if isinstance(t, PBin):
                return pvars(t.left) + pvars(t.right)
            if isinstance(t, PFunc):
                return [n for a in t.args for n in pvars(a)]
            return []

        if e.lhs is not None:
            keys += pvars(e.lhs)
        if e.rhs is not None:
            keys += pvars(e.rhs)
        return keys

    def _drop(self, st: DropStmt) -> DataFrame:
        if st.what == "continuous query":
            if st.name not in self.continuous_queries:
                raise InfluxQLError(f"unknown continuous query {st.name!r}")
            del self.continuous_queries[st.name]
            return self.spark.createDataFrame([(st.name,)], "dropped string")
        self._require_catalog()
        if st.what == "database":
            self.spark.sql(f"DROP DATABASE IF EXISTS {_bq(st.name)} CASCADE")
            return self.spark.createDataFrame([(st.name,)], "dropped string")
        db = st.db or self.db
        if db is None:
            raise InfluxQLError(f"DROP {st.what.upper()} requires a database context")
        if st.what == "retention policy":
            # the RP's data lives in its {rp}__{measurement} tables
            # (RP metadata rides their TBLPROPERTIES) — dropping them
            # IS dropping the policy, influx's own semantics ("deletes
            # all measurements and data in the retention policy")
            victims = [
                t.name
                for t in self.spark.catalog.listTables(db)
                if t.name.startswith(f"{st.name}__")
            ]
            if not victims:
                raise InfluxQLError(
                    f"retention policy {st.name!r} not found on {db!r}"
                )
            for name in victims:
                self.spark.sql(f"DROP TABLE {_bq(db)}.{_bq(name)}")
            return self.spark.createDataFrame([(st.name,)], "dropped string")
        for tbl in self.spark.catalog.listTables(db):
            if tbl.name.endswith(f"__{st.name}"):
                self.spark.sql(f"DROP TABLE {_bq(db)}.{_bq(tbl.name)}")
        return self.spark.createDataFrame([(st.name,)], "dropped string")

    def _resolve_regex(self, rx: str) -> DataFrame:
        """FROM /regex/: union every registered measurement whose name
        matches (unanchored, like InfluxDB), projected to the COMMON
        column set plus a ``measurement`` tag column. Per-measurement
        result separation falls out of grouping on that tag (the
        compile treats it as one more tag column), matching influx's
        one-series-per-measurement output. The union is a no-shuffle
        concatenation; downstream aggregation shuffles once on
        (bucket, tags, measurement)."""
        matches = sorted(n for n in self.tables if re.search(rx, n))
        if not matches:
            raise InfluxQLError(f"no measurement matches /{rx}/")
        common = set(self.tables[matches[0]].columns)
        for n in matches[1:]:
            common &= set(self.tables[n].columns)
        if not common:
            raise InfluxQLError(
                f"measurements matching /{rx}/ share no columns"
            )
        cols = sorted(common)
        out = None
        for n in matches:
            part = self.tables[n].select(
                F.lit(n).alias("measurement"), *[F.col(c) for c in cols]
            )
            out = part if out is None else out.unionByName(part)
        return out

    def response_tag_columns(self, st, out_cols: list[str]) -> list[str]:
        """Which result columns are SERIES TAGS for the InfluxDB 1.x
        HTTP response shape. InfluxDB answers ``GROUP BY *`` / ``GROUP
        BY <tags>`` with one series per tag combination carrying a
        ``"tags": {k: v}`` object, and those columns are EXCLUDED from
        ``columns``/``values`` — a reader like the reference's ReadDB
        (pkg/agent/client.go:392-393,471) rebuilds points as
        (measurement, tags, fields, ts), so a tag left among the value
        columns would be silently rewritten as a FIELD. The /query
        endpoint uses this to partition its response."""
        if not isinstance(st, SelectStmt):
            return []
        if not (st.group_star or st.group_tags):
            return []
        if st.group_star:
            if st.measurement_regex is not None:
                matches = [
                    n for n in self.tables
                    if re.search(st.measurement_regex, n)
                ]
                tags = {"measurement"}
                for n in matches:
                    tags |= set(self.tags.get(n, []))
            elif st.sub is not None:
                tags = set(st.sub.group_tags)
            else:
                tags = set(self._tags_for(st.measurement, st.db))
        else:
            tags = set(st.group_tags)
        return [c for c in out_cols if c in tags]

    def _tags_for(self, measurement: str, db: str | None) -> list[str]:
        if measurement in self.tags:
            return list(self.tags[measurement])
        if self.catalog is not None and (db or self.db):
            return self.catalog.get_tags(db or self.db, measurement)
        return []

    def _retention(self, st: RetentionPolicyStmt) -> DataFrame:
        from syncflux_spark.catalog import RetPol

        cat = self._require_catalog()
        if st.verb == "alter" and st.duration is None and st.default:
            cat.set_default_rp(st.db, st.rp)
        else:
            rp = RetPol(
                name=st.rp,
                duration=st.duration or "0s",
                shard_duration=st.shard_duration or "168h",
                n_replicas=st.replication or 1,
                default=st.default,
            )
            # RP metadata lands on measurement tables at creation time
            # (catalog.create_measurement); record default flips now
            if st.default:
                cat.set_default_rp(st.db, st.rp)
        return self.spark.createDataFrame([(st.rp,)], "rp string")

    # -- helpers ------------------------------------------------------------
    def _resolve(self, st: SelectStmt) -> DataFrame:
        if st.sub is not None:
            return self._select(st.sub)
        if st.measurement_regex is not None:
            return self._resolve_regex(st.measurement_regex)
        if st.measurement in self.tables:
            return self.tables[st.measurement]
        db = st.db or self.db
        if self.catalog is not None and db:
            return self.catalog.measurement_df(
                db, st.measurement, st.rp or "autogen"
            )
        raise InfluxQLError(f"unknown measurement {st.measurement!r}")

    def _require_catalog(self):
        if self.catalog is None:
            raise InfluxQLError("statement requires a catalog")
        return self.catalog
