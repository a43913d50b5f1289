"""BQL-subset parser: query text → ``Query`` spec.

Bullet's user-facing query language is BQL, parsed by bullet-bql in the web
service; the reference backend only ever sees the compiled ``Query`` POJO
(BulletSparkStreamingBaseJobTest.scala:40-41 ships
``SerializerDeserializer.toBytes(query)``, never text). This module is the
API-parity piece for that front door: a recursive-descent parser for the BQL
surface the reference exercises (SURVEY §2.2/§2.3/§2.4), emitting the same
``Query`` spec the programmatic API builds — so a BQL string and a hand-built
spec compile to the identical Catalyst plan.

Grammar (case-insensitive keywords)::

    SELECT [DISTINCT] select_list
    FROM ( STREAM([duration_ms[, TIME]]) | identifier )
    [LATERAL VIEW [OUTER] EXPLODE(expr) AS alias[, alias2]]
    [WHERE expr] [GROUP BY fields] [HAVING expr]
    [ORDER BY field [ASC|DESC] (, ...)*]
    [WINDOWING ( EVERY(n, TIME|RECORD, FIRST|ALL) | TUMBLING(n, TIME|RECORD) )]
    [LIMIT n]

    select_list := '*'
                 | (expr [AS alias]) (, ...)*           -- projection / RAW
                 | agg (, ...)* with optional group fields interleaved
    agg  := COUNT(*) | COUNT(field) | SUM(f) | MIN(f) | MAX(f) | AVG(f)
          | COUNT(DISTINCT f, ...) | APPROX_COUNT_DISTINCT(f, ...)
          | TOP(k[, threshold], f, ...)
          | QUANTILE(f, LINEAR, n) | QUANTILE(f, MANUAL, p, ...)
          | FREQ(f, REGION, start, end, step) | FREQ(f, MANUAL, p, ...)
          | CUMFREQ(f, REGION, start, end, step) | CUMFREQ(f, MANUAL, p, ...)

Expressions: OR, AND, NOT, XOR, comparisons ``= != > >= < <=`` (plus
quantified ``= ANY (list)`` / ``> ALL (list)`` forms), IN / NOT IN over a
value list OR a list-valued expression (``x IN toks`` — bullet's list
membership), BETWEEN / NOT BETWEEN, IS [NOT] NULL, RLIKE, ``RLIKE
ANY (patterns)``, SIZEIS(x, n), CONTAINSKEY, CONTAINSVALUE, FILTER(list,
mask) (bullet-core NAry FILTER — keep list[i] where mask[i]), arithmetic
``+ - * / %``, unary ``-``, literals (numbers, 'strings', TRUE/FALSE,
NULL), field access ``a``, ``a.b``, ``a[0]``, ``a[0].c``, and scalar calls
ABS/LOWER/UPPER/TRIM/SUBSTRING/CONCAT/SIZEOF/HASH/UNIX_TIMESTAMP/IF/
CAST(x AS type).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from bullet_spark_spark.functions.exprs import Binary, E, Expr, NAry, Unary, Value
from bullet_spark_spark.plans.spec import (
    AggOp,
    CountDistinctAgg,
    Culling,
    DistributionAgg,
    DistributionType,
    GroupAgg,
    Having,
    OrderBy,
    Projection,
    Query,
    RawAgg,
    TopKAgg,
    Window,
    WindowUnit,
)


class BQLError(ValueError):
    """Parse error — plays the reference's ErrorData role for text queries
    (malformed-query path, QueryDataUnioningTest.scala:40-51)."""


_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<num>\d+\.\d+|\.\d+|\d+)
      | (?P<str>'(?:[^']|'')*')
      | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)
      | (?P<op><=|>=|!=|<>|[=<>(),.*+\-/%\[\]])
    )""",
    re.VERBOSE,
)

_KEYWORDS = {
    "SELECT", "FROM", "WHERE", "GROUP", "BY", "HAVING", "ORDER", "LIMIT",
    "WINDOWING", "AS", "AND", "OR", "NOT", "XOR", "IN", "BETWEEN", "IS",
    "NULL", "TRUE", "FALSE", "LIKE", "RLIKE", "ASC", "DESC", "DISTINCT",
    "STREAM", "EVERY", "TUMBLING", "TIME", "RECORD", "FIRST", "ALL",
    "LATERAL", "VIEW", "OUTER", "EXPLODE",
}

_AGG_KEYWORDS = {"COUNT", "APPROX_COUNT_DISTINCT", "SUM", "MIN", "MAX", "AVG", "TOP", "QUANTILE", "FREQ", "CUMFREQ"}

_SCALAR_FNS = {
    "ABS", "LOWER", "UPPER", "TRIM", "SIZEOF", "HASH", "UNIX_TIMESTAMP",
    "SUBSTRING", "CONCAT", "IF", "CAST", "STRLEN", "CONTAINSKEY", "CONTAINSVALUE",
    "FILTER", "SIZEIS", "SPLIT",
}


@dataclass
class _Tok:
    kind: str  # num | str | ident | op
    text: str


def _tokenize(text: str) -> list[_Tok]:
    toks: list[_Tok] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            if text[pos:].strip() == "":
                break
            raise BQLError(f"unexpected character {text[pos]!r} at {pos}")
        pos = m.end()
        for kind in ("num", "str", "ident", "op"):
            val = m.group(kind)
            if val is not None:
                toks.append(_Tok(kind, val))
                break
    return toks


class _Parser:
    def __init__(self, text: str) -> None:
        self.toks = _tokenize(text)
        self.i = 0

    # -- token helpers -------------------------------------------------------

    def peek(self, offset: int = 0) -> _Tok | None:
        j = self.i + offset
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> _Tok:
        if self.i >= len(self.toks):
            raise BQLError("unexpected end of query")
        t = self.toks[self.i]
        self.i += 1
        return t

    def kw(self, offset: int = 0) -> str | None:
        """Uppercased keyword at offset, if the token is an identifier."""
        t = self.peek(offset)
        return t.text.upper() if t and t.kind == "ident" else None

    def accept_kw(self, *words: str) -> bool:
        """Consume the keyword sequence if present."""
        for k, w in enumerate(words):
            if self.kw(k) != w:
                return False
        self.i += len(words)
        return True

    def expect_kw(self, *words: str) -> None:
        if not self.accept_kw(*words):
            raise BQLError(f"expected {' '.join(words)} at token {self.i}: {self.peek()}")

    def accept_op(self, op: str) -> bool:
        t = self.peek()
        if t and t.kind == "op" and t.text == op:
            self.i += 1
            return True
        return False

    def expect_op(self, op: str) -> None:
        if not self.accept_op(op):
            raise BQLError(f"expected {op!r} at token {self.i}: {self.peek()}")

    # -- entry ---------------------------------------------------------------

    def parse(self) -> Query:
        self.expect_kw("SELECT")
        distinct = bool(self.accept_kw("DISTINCT"))
        select_items = self._select_list()
        self.expect_kw("FROM")
        source, duration_ms = self._from_clause()
        explode = self._lateral_view() if self.accept_kw("LATERAL") else None
        filter_expr = self._expr() if self.accept_kw("WHERE") else None
        group_fields: list[str] = []
        if self.accept_kw("GROUP", "BY"):
            group_fields = self._field_name_list()
        having = self._expr() if self.accept_kw("HAVING") else None
        order: list[tuple[str, bool]] = []
        if self.accept_kw("ORDER", "BY"):
            order = self._order_list()
        window = self._windowing() if self.accept_kw("WINDOWING") else Window()
        limit = None
        if self.accept_kw("LIMIT"):
            limit = int(self.next().text)
        if self.peek() is not None:
            raise BQLError(f"trailing tokens starting at {self.peek()}")

        if distinct:
            if group_fields:
                raise BQLError("SELECT DISTINCT cannot be combined with GROUP BY")
            group_fields = self._distinct_fields(select_items)
        agg, projection = self._build_aggregation(select_items, group_fields, limit)
        post = []
        if distinct:
            # GroupAgg with no ops emits bullet's default `count` column;
            # SELECT DISTINCT surfaces only the fields — cull it (the same
            # post-agg a user would write, Q14)
            post.append(Culling(("count",)))
        if having is not None:
            post.append(Having(having))
        if order:
            post.append(OrderBy([(f, asc) for f, asc in order]))
        return Query(
            source=source,
            projection=projection,
            filter=filter_expr,
            aggregation=agg,
            explode=explode,
            post_aggregations=tuple(post),
            window=window,
            duration_ms=duration_ms,
        )

    # -- clauses --------------------------------------------------------------

    def _select_list(self) -> list[tuple[str, object, str | None]]:
        """Returns [(kind, payload, alias)]: kind ∈ star|agg|expr."""
        items: list[tuple[str, object, str | None]] = []
        if self.accept_op("*"):
            return [("star", None, None)]
        while True:
            item = self._select_item()
            items.append(item)
            if not self.accept_op(","):
                break
        return items

    def _select_item(self) -> tuple[str, object, str | None]:
        kw = self.kw()
        nxt = self.peek(1)
        if kw in _AGG_KEYWORDS and nxt and nxt.kind == "op" and nxt.text == "(":
            payload = self._agg_call(kw)
            alias = self._alias()
            return ("agg", payload, alias)
        e = self._expr()
        alias = self._alias()
        return ("expr", e, alias)

    def _alias(self) -> str | None:
        if self.accept_kw("AS"):
            return self.next().text
        return None

    def _agg_call(self, name: str):
        self.next()  # the agg keyword
        self.expect_op("(")
        if name == "COUNT":
            if self.accept_op("*"):
                self.expect_op(")")
                return ("COUNT", None)
            if self.accept_kw("DISTINCT"):
                fields = self._field_name_list()
                self.expect_op(")")
                return ("COUNT_DISTINCT", fields)
            f = self._field_name()
            self.expect_op(")")
            return ("COUNT_FIELD", f)
        if name == "APPROX_COUNT_DISTINCT":
            # Spark SQL's function name; compiles to the HLL-sketch CD,
            # which the shared-scan multiplexer carries as blob partials
            fields = self._field_name_list()
            self.expect_op(")")
            return ("COUNT_DISTINCT_APPROX", fields)
        if name in ("SUM", "MIN", "MAX", "AVG"):
            f = self._field_name()
            self.expect_op(")")
            return (name, f)
        if name == "TOP":
            k = int(self.next().text)
            self.expect_op(",")
            threshold = None
            t = self.peek()
            if t and t.kind == "num":
                threshold = int(self.next().text)
                self.expect_op(",")
            fields = self._field_name_list()
            self.expect_op(")")
            return ("TOP", (k, threshold, fields))
        if name in ("QUANTILE", "FREQ", "CUMFREQ"):
            f = self._field_name()
            self.expect_op(",")
            mode = self.next().text.upper()
            args: list[float] = []
            while self.accept_op(","):
                neg = self.accept_op("-")
                v = float(self.next().text)
                args.append(-v if neg else v)
            self.expect_op(")")
            return ("DIST", (name, f, mode, args))
        raise BQLError(f"unknown aggregation {name}")

    def _distinct_fields(self, items) -> list[str]:
        """SELECT DISTINCT f1, f2 — bullet-bql sugar for GROUP BY on the
        selected fields [D] (distinct tuples, no aggregation ops). Plain
        field references only, matching bullet's documented semantics."""
        from bullet_spark_spark.functions.exprs import Field

        names: list[str] = []
        for kind, payload, alias in items:
            if kind != "expr" or not isinstance(payload, Field) or alias:
                raise BQLError(
                    "SELECT DISTINCT takes plain field names (no *, "
                    "aggregations, computed expressions, or aliases)"
                )
            names.append(_default_name(payload))
        return names

    _RESERVED_ALIAS = frozenset(
        "FROM WHERE GROUP HAVING ORDER WINDOWING LATERAL LIMIT AS BY SELECT".split()
    )

    def _alias_ident(self) -> str:
        """Consume an alias token, validating it IS an identifier: keywords
        and operators are rejected with a BQLError (matching the parser's
        other error paths) instead of being silently accepted as column
        names — and EOF raises the parser's standard error rather than an
        AttributeError (r4 advisory)."""
        t = self.peek()
        if t is None:
            raise BQLError("unexpected end of query: expected alias")
        if t.kind != "ident" or t.text.upper() in self._RESERVED_ALIAS:
            raise BQLError(f"expected alias identifier, got {t.text!r}")
        return self.next().text

    def _lateral_view(self):
        """LATERAL VIEW [OUTER] EXPLODE(expr) AS alias [, key2] — bullet-core
        1.5 table functions via bullet-bql's LATERAL VIEW grammar [D]. Two
        aliases = map explode (key, value): ``AS k, v`` or ``AS (k, v)``."""
        from bullet_spark_spark.plans.spec import Explode

        self.expect_kw("VIEW")
        outer = bool(self.accept_kw("OUTER"))
        self.expect_kw("EXPLODE")
        self.expect_op("(")
        expr = self._expr()
        self.expect_op(")")
        self.expect_kw("AS")
        parens = bool(self.accept_op("("))
        names = [self._alias_ident()]
        while self.accept_op(","):
            names.append(self._alias_ident())
        if parens:
            self.expect_op(")")
        if len(names) == 1:
            return Explode(expr=expr, alias=names[0], outer=outer)
        if len(names) == 2:
            return Explode(
                expr=expr, alias=names[1], key_alias=names[0], outer=outer
            )
        raise BQLError("EXPLODE takes one alias (list) or two (map: key, value)")

    def _from_clause(self) -> tuple[str, int | None]:
        if self.kw() == "STREAM":
            self.next()
            self.expect_op("(")
            duration = None
            t = self.peek()
            if t and t.kind == "num":
                duration = int(self.next().text)
                self.accept_op(",")
                self.accept_kw("TIME")
            self.expect_op(")")
            # STREAM() reads the engine's registered record stream; the view
            # name is resolved at run time (streaming runtime supplies the df)
            return "stream", duration
        return self._field_name(), None

    def _field_name(self) -> str:
        t = self.next()
        if t.kind != "ident":
            raise BQLError(f"expected field name, got {t}")
        name = t.text
        while self.accept_op("."):
            name += "." + self.next().text
        return name

    def _field_name_list(self) -> list[str]:
        fields = [self._field_name()]
        while self.accept_op(","):
            fields.append(self._field_name())
        return fields

    def _order_list(self) -> list[tuple[str, bool]]:
        out = []
        while True:
            f = self._field_name()
            asc = True
            if self.accept_kw("DESC"):
                asc = False
            else:
                self.accept_kw("ASC")
            out.append((f, asc))
            if not self.accept_op(","):
                break
        return out

    def _windowing(self) -> Window:
        kind = self.kw()
        if kind == "EVERY":
            self.next()
            self.expect_op("(")
            n = int(self.next().text)
            self.expect_op(",")
            unit = WindowUnit(self.next().text.upper())
            include = None
            if self.accept_op(","):
                inc = self.next().text.upper()
                include = WindowUnit.ALL if inc == "ALL" else None  # FIRST → reset
            self.expect_op(")")
            return Window(emit_every=n, emit_unit=unit, include=include)
        if kind == "TUMBLING":
            self.next()
            self.expect_op("(")
            n = int(self.next().text)
            self.expect_op(",")
            unit = WindowUnit(self.next().text.upper())
            self.expect_op(")")
            return Window(emit_every=n, emit_unit=unit)
        raise BQLError(f"unknown WINDOWING form {kind}")

    # -- aggregation assembly --------------------------------------------------

    def _build_aggregation(self, items, group_fields, limit):
        aggs = [(p, a) for kind, p, a in items if kind == "agg"]
        exprs = [(p, a) for kind, p, a in items if kind == "expr"]
        star = any(kind == "star" for kind, _, _ in items)

        if not aggs:
            if group_fields:
                # GROUP BY with no aggregation ops → distinct group tuples;
                # every select item must be a group field
                for e, _ in exprs:
                    nm = _default_name(e)
                    if nm not in group_fields:
                        raise BQLError(
                            f"non-aggregated select item {nm!r} must appear in GROUP BY"
                        )
                return GroupAgg(fields=tuple(group_fields), operations=()), Projection()
            # RAW query: projection (or pass-through) + limit
            projection = Projection()
            if exprs:
                fields = []
                for e, alias in exprs:
                    fields.append((alias or _default_name(e), e))
                projection = Projection(fields=tuple(fields))
            return RawAgg(limit=limit or 500), projection

        # single special aggregation forms
        if len(aggs) == 1 and aggs[0][0][0] in ("COUNT_DISTINCT", "COUNT_DISTINCT_APPROX"):
            fields = aggs[0][0][1]
            return (
                CountDistinctAgg(
                    fields=tuple(fields),
                    name=aggs[0][1] or "count_distinct",
                    approx=aggs[0][0][0] == "COUNT_DISTINCT_APPROX",
                ),
                Projection(),
            )
        if len(aggs) == 1 and aggs[0][0][0] == "TOP":
            k, threshold, fields = aggs[0][0][1]
            return (
                TopKAgg(fields=tuple(fields), k=k, threshold=threshold,
                        name=aggs[0][1] or "count"),
                Projection(),
            )
        if len(aggs) == 1 and aggs[0][0][0] == "DIST":
            name, f, mode, args = aggs[0][0][1]
            dtype = {
                "QUANTILE": DistributionType.QUANTILE,
                "FREQ": DistributionType.PMF,
                "CUMFREQ": DistributionType.CDF,
            }[name]
            if mode == "LINEAR":
                n = int(args[0])
                if not 1 <= n <= 10_000:
                    raise BQLError(f"LINEAR point count must be in [1, 10000], got {n}")
                if name == "QUANTILE":
                    points = [0.0] if n == 1 else [i / (n - 1) for i in range(n)]
                    return DistributionAgg(type=dtype, field=f, points=points), Projection()
                raise BQLError("LINEAR region for FREQ/CUMFREQ needs REGION(start, end, step)")
            if mode == "REGION":
                start, end, step = args
                if step <= 0:
                    raise BQLError(f"REGION step must be > 0, got {step}")
                if end < start:
                    raise BQLError(f"REGION end {end} < start {start}")
                if (end - start) / step > 10_000:
                    raise BQLError("REGION generates more than 10000 points")
                points = []
                p = start
                while p <= end + 1e-12:
                    points.append(round(p, 12))
                    p += step
                if name == "QUANTILE":
                    return DistributionAgg(type=dtype, field=f, points=points), Projection()
                return DistributionAgg(type=dtype, field=f, points=points), Projection()
            if mode == "MANUAL":
                return DistributionAgg(type=dtype, field=f, points=list(args)), Projection()
            raise BQLError(f"unknown distribution mode {mode}")

        # GROUP BY / GROUP ALL operations
        ops: list[tuple[AggOp, str | None, str]] = []
        for (op_name, payload), alias in aggs:
            if op_name == "COUNT":
                ops.append((AggOp.COUNT, None, alias or "count"))
            elif op_name == "COUNT_FIELD":
                ops.append((AggOp.COUNT_FIELD, payload, alias or f"count_{payload}"))
            elif op_name in ("SUM", "MIN", "MAX", "AVG"):
                ops.append((AggOp(op_name), payload, alias or f"{op_name.lower()}_{payload}"))
            else:
                raise BQLError(
                    f"{op_name} cannot be combined with other aggregations"
                )
        # non-agg select items must be group fields (validated against spec)
        for e, alias in exprs:
            nm = _default_name(e)
            if nm not in group_fields:
                raise BQLError(
                    f"non-aggregated select item {nm!r} must appear in GROUP BY"
                )
        _ = star  # SELECT * with aggs is invalid BQL; star only reaches RAW
        return GroupAgg(fields=tuple(group_fields), operations=tuple(ops)), Projection()

    # -- expressions (precedence climbing) --------------------------------------

    def _expr(self) -> Expr:
        return self._or()

    def _or(self) -> Expr:
        left = self._and()
        while True:
            if self.accept_kw("OR"):
                left = Binary("OR", left, self._and())
            elif self.accept_kw("XOR"):
                left = Binary("XOR", left, self._and())
            else:
                return left

    def _and(self) -> Expr:
        left = self._not()
        while self.accept_kw("AND"):
            left = Binary("AND", left, self._not())
        return left

    def _not(self) -> Expr:
        if self.accept_kw("NOT"):
            return Unary("NOT", self._not())
        return self._comparison()

    def _comparison(self) -> Expr:
        left = self._additive()
        t = self.peek()
        if t and t.kind == "op" and t.text in ("=", "!=", "<>", ">", ">=", "<", "<="):
            self.next()
            op = "!=" if t.text == "<>" else t.text
            # quantified comparison: = ANY (listfield) / > ALL (listfield)
            if self.kw() in ("ANY", "ALL"):
                quant = self.next().text.upper()
                self.expect_op("(")
                right = self._expr()
                self.expect_op(")")
                return Binary(f"{op}_{quant}", left, right)
            return Binary(op, left, self._additive())
        if self.accept_kw("IS"):
            negate = self.accept_kw("NOT")
            self.expect_kw("NULL")
            return Unary("ISNOTNULL" if negate else "ISNULL", left)
        if self.accept_kw("RLIKE") or self.accept_kw("LIKE"):
            # RLIKE ANY (patterns): true if the string matches any pattern
            # in a list-valued expression
            if self.kw() == "ANY":
                self.next()
                self.expect_op("(")
                pats = self._expr()
                self.expect_op(")")
                return Binary("RLIKE_ANY", left, pats)
            pat = self.next()
            return Binary("RLIKE", left, Value(_unquote(pat.text)))
        negate = self.accept_kw("NOT")
        if self.accept_kw("IN"):
            # IN (v1, v2, ...) is value-list membership; IN <expr> (no
            # parens) is membership in a LIST-valued expression (IN_LIST)
            t = self.peek()
            if t and t.kind == "op" and t.text == "(":
                self.next()
                operands = [left, self._expr()]
                while self.accept_op(","):
                    operands.append(self._expr())
                self.expect_op(")")
                return NAry("NOT IN" if negate else "IN", operands)
            member = Binary("IN_LIST", left, self._additive())
            return Unary("NOT", member) if negate else member
        if self.accept_kw("BETWEEN"):
            lo = self._additive()
            self.expect_kw("AND")
            hi = self._additive()
            return NAry("NOT BETWEEN" if negate else "BETWEEN", [left, lo, hi])
        if negate:
            raise BQLError("dangling NOT before neither IN nor BETWEEN")
        return left

    def _additive(self) -> Expr:
        left = self._multiplicative()
        while True:
            if self.accept_op("+"):
                left = Binary("+", left, self._multiplicative())
            elif self.accept_op("-"):
                left = Binary("-", left, self._multiplicative())
            else:
                return left

    def _multiplicative(self) -> Expr:
        left = self._unary()
        while True:
            if self.accept_op("*"):
                left = Binary("*", left, self._unary())
            elif self.accept_op("/"):
                left = Binary("/", left, self._unary())
            elif self.accept_op("%"):
                left = Binary("%", left, self._unary())
            else:
                return left

    def _unary(self) -> Expr:
        if self.accept_op("-"):
            return Unary("-", self._unary())
        return self._primary()

    def _primary(self) -> Expr:
        t = self.peek()
        if t is None:
            raise BQLError("unexpected end of expression")
        if t.kind == "op" and t.text == "(":
            self.next()
            e = self._expr()
            self.expect_op(")")
            return e
        if t.kind == "num":
            self.next()
            return Value(float(t.text) if "." in t.text else int(t.text))
        if t.kind == "str":
            self.next()
            return Value(_unquote(t.text))
        if t.kind == "ident":
            up = t.text.upper()
            if up == "TRUE":
                self.next()
                return Value(True)
            if up == "FALSE":
                self.next()
                return Value(False)
            if up == "NULL":
                self.next()
                return Value(None)
            nxt = self.peek(1)
            if up in _SCALAR_FNS and nxt and nxt.kind == "op" and nxt.text == "(":
                return self._scalar_call(up)
            return self._field_expr()
        raise BQLError(f"unexpected token {t}")

    def _scalar_call(self, name: str) -> Expr:
        self.next()
        self.expect_op("(")
        if name == "CAST":
            e = self._expr()
            self.expect_kw("AS")
            to = self.next().text
            self.expect_op(")")
            return e.cast(to)
        args = [self._expr()]
        while self.accept_op(","):
            args.append(self._expr())
        self.expect_op(")")
        if name == "IF":
            return NAry("IF", args)
        if name == "SUBSTRING":
            return NAry("SUBSTRING", args)
        if name == "CONCAT":
            return NAry("CONCAT", args)
        if name == "FILTER":
            if len(args) != 2:
                raise BQLError("FILTER takes (list, mask)")
            return NAry("FILTER", args)
        if name == "SPLIT":
            if len(args) != 2:
                raise BQLError("SPLIT takes (string, pattern)")
            return NAry("SPLIT", args)
        if name == "SIZEIS":
            if len(args) != 2:
                raise BQLError("SIZEIS takes (container, size)")
            return Binary("=", Unary("SIZEOF", args[0]), args[1])
        if name in ("CONTAINSKEY", "CONTAINSVALUE"):
            return Binary(name, args[0], args[1])
        return Unary(name, args[0])

    def _field_expr(self) -> Expr:
        name = self.next().text
        index = key = subkey = None
        # a.b.c dotted path (resolved by Catalyst against structs/maps)
        while self.peek() and self.peek().kind == "op" and self.peek().text == ".":
            if index is None and key is None:
                self.next()
                name += "." + self.next().text
            else:
                self.next()
                if key is None:
                    key = self.next().text
                else:
                    subkey = self.next().text
        if self.accept_op("["):
            index = int(self.next().text)
            self.expect_op("]")
            if self.accept_op("."):
                key = self.next().text
        return E.f(name, index=index, key=key, subkey=subkey)


def _unquote(s: str) -> str:
    return s[1:-1].replace("''", "'")


def _default_name(e: Expr) -> str:
    from bullet_spark_spark.functions.exprs import Field

    if isinstance(e, Field):
        return e.name
    return "expr"


def parse_bql(text: str) -> Query:
    """Parse a BQL string into a Query spec (raises BQLError on bad input)."""
    return _Parser(text).parse()
