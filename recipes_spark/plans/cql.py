"""CQL2-text → Catalyst Column compiler (SURVEY.md §3.3).

The reference's query side is stac-fastapi, which accepts CQL2 property
filters and hands them to pgstac for SQL evaluation
(docker-compose.yml:2-28). This module is the engine's equivalent: a
compact recursive-descent parser for the CQL2 text subset the STAC API
actually sees — comparisons, BETWEEN / IN / IS NULL / LIKE, AND/OR/NOT,
parentheses, TIMESTAMP('...') literals — compiled straight to a Column
expression, so a filter string pushes down and prunes exactly like a
hand-written predicate.

Grammar (standard precedence NOT > AND > OR):
  expr       := or_expr
  or_expr    := and_expr (OR and_expr)*
  and_expr   := unary (AND unary)*
  unary      := NOT unary | '(' expr ')' | predicate
  predicate  := spatial_pred | temporal_pred
              | operand (cmp operand | BETWEEN operand AND operand
                | [NOT] IN '(' operand (',' operand)* ')'
                | IS [NOT] NULL | [NOT] LIKE operand)
  operand    := number | string | TIMESTAMP '(' string ')'
                | DATE '(' string ')' | CASEI '(' operand ')'
                | ACCENTI '(' operand ')'
                | true | false | identifier

Spatial / temporal operators (the pgstac surface the reference's query
side evaluates, docker-compose.yml:30-44):
  spatial_pred  := (S_INTERSECTS|S_CONTAINS|S_WITHIN|S_DISJOINT)
                   '(' identifier ',' geom ')'
  geom          := BBOX '(' num ',' num ',' num ',' num ')'
                 | POINT '(' num num ')'
                 | POLYGON '(' '(' num num (',' num num)* ')' ')'
  temporal_pred := (T_INTERSECTS|ANYINTERACTS|T_BEFORE|T_AFTER
                    |T_DURING|T_CONTAINS)
                   '(' identifier ',' interval_or_instant ')'
  interval_or_instant := INTERVAL '(' str ',' str ')'   -- '..' = open
                       | TIMESTAMP '(' str ')' | DATE '(' str ')'

The engine stores footprints as bbox corner columns (not full
geometries — SURVEY §2.9 G3), so the spatial relations compile to
corner arithmetic against the query geometry's ENVELOPE (exact for
bbox footprints: intersects = G3 overlap, disjoint its negation,
contains/within = corner containment), and the temporal operators
compile to predicates over the item's [start_datetime, end_datetime]
interval (anyinteracts semantics for T_INTERSECTS, strictly-
before/after for T_BEFORE/T_AFTER, inside/covers for
T_DURING/T_CONTAINS). The spatial
property identifier resolves through ``spatial_cols`` and the temporal
one through ``temporal_cols`` — the same indirection pgstac's
queryables mapping performs. Everything compiles to plain column
arithmetic, zero UDFs. On the catalog store that prunes nothing by
itself: ``bbox[i]`` comparisons are not pushed to parquet, and the INT96
datetime columns carry no min/max statistics.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<num>-?\d+(?:\.\d+)?)
      | (?P<str>'(?:[^']|'')*')
      | (?P<op><>|<=|>=|=|<|>)
      | (?P<lp>\()
      | (?P<rp>\))
      | (?P<comma>,)
      | (?P<qword>"[^"]+")
      | (?P<word>[A-Za-z_][A-Za-z0-9_.]*)
    )""",
    re.VERBOSE,
)

_KEYWORDS = {"AND", "OR", "NOT", "BETWEEN", "IN", "IS", "NULL", "LIKE",
             "TRUE", "FALSE", "TIMESTAMP", "DATE", "INTERVAL", "CASEI",
             "ACCENTI", "S_INTERSECTS", "S_CONTAINS", "S_WITHIN",
             "S_DISJOINT", "T_INTERSECTS", "T_BEFORE", "T_AFTER",
             "T_DURING", "T_CONTAINS", "ANYINTERACTS", "BBOX", "POINT",
             "POLYGON"}

_SPATIAL_OPS = {"S_INTERSECTS", "S_CONTAINS", "S_WITHIN", "S_DISJOINT"}

_TEMPORAL_OPS = {
    "T_INTERSECTS", "ANYINTERACTS", "T_BEFORE", "T_AFTER",
    "T_DURING", "T_CONTAINS",
}

#: Latin diacritic fold for the ACCENTI accessor: a fixed translate()
#: table (pure Catalyst, no UDF). Covers the Latin-1/Latin-Extended
#: letters catalogs actually carry; pgstac's unaccent() extension is the
#: reference behavior.
_ACCENT_SRC = (
    "áàâäãåāÁÀÂÄÃÅĀéèêëēÉÈÊËĒíìîïīÍÌÎÏĪóòôöõōÓÒÔÖÕŌúùûüūÚÙÛÜŪ"
    "çÇñÑýÿÝšŠžŽ"
)
_ACCENT_DST = (
    "aaaaaaaAAAAAAAeeeeeEEEEEiiiiiIIIIIooooooOOOOOO"
    "uuuuuUUUUUcCnNyyYsSzZ"
)
assert len(_ACCENT_SRC) == len(_ACCENT_DST)


class CQLError(ValueError):
    pass


# -- shared predicate builders (text parser + cql2-json walker) -----------

_DATE_ONLY = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _validate_instant(s: str, what: str = "instant") -> str:
    """Compile-time validation of a temporal literal. An unparseable
    string would cast to NULL at runtime, silently filtering out every
    row — a user-facing query compiler must fail loudly instead."""
    from datetime import datetime

    if not isinstance(s, str):
        raise CQLError(f"{what} must be a string, got {s!r}")
    t = s[:-1] + "+00:00" if s.endswith(("Z", "z")) else s
    try:
        datetime.fromisoformat(t.replace(" ", "T", 1) if " " in t else t)
    except ValueError:
        raise CQLError(f"unparseable {what}: {s!r}") from None
    return s


def _expand_bounds(lo: str | None, hi: str | None) -> tuple[str | None, str | None]:
    """Validate interval bounds and widen date-only strings to the full
    day they denote (CQL2: a DATE spans the whole day — '2020-12-31' as
    an upper bound includes items up to that day's last microsecond)."""
    if lo is not None:
        lo = _validate_instant(lo, "interval start")
    if hi is not None:
        hi = _validate_instant(hi, "interval end")
        if _DATE_ONLY.match(hi):
            hi = f"{hi} 23:59:59.999999"
    return lo, hi


def _instant_bounds(kind: str, s: str) -> tuple[str, str]:
    """A temporal-operator instant as a [lo, hi] interval: a TIMESTAMP
    is the degenerate [t, t]; a DATE covers its whole day, so
    T_AFTER(datetime, DATE('2020-12-31')) only admits items starting
    AFTER that day ends."""
    s = _validate_instant(s, kind.lower())
    if kind == "DATE" or _DATE_ONLY.match(s):
        return (f"{s[:10]} 00:00:00", f"{s[:10]} 23:59:59.999999")
    return (s, s)


def _envelope_predicate(
    spatial_cols: tuple[Column, Column, Column, Column],
    env: tuple[float, float, float, float],
) -> Column:
    """G3 interval-overlap against a query envelope. An
    antimeridian-crossing bbox (west > east — legal in STAC/CQL2)
    splits into the two wrapped longitude ranges OR'd together; a
    single naive envelope would match almost nothing."""
    w, s, e, n = env
    if w > e:
        return _envelope_predicate(spatial_cols, (w, s, 180.0, n)) | (
            _envelope_predicate(spatial_cols, (-180.0, s, e, n))
        )
    from recipes_spark.plans.catalog import bbox_intersects

    cw, cs, ce, cn = spatial_cols
    return bbox_intersects(cw, cs, ce, cn, w, s, e, n)


def _spatial_predicate(
    op: str,
    spatial_cols: tuple[Column, Column, Column, Column],
    env: tuple[float, float, float, float],
    rings: list | None = None,
) -> Column:
    """The four CQL2 spatial relations over envelope footprints (exact
    for the engine's bbox geometries, G3): INTERSECTS = interval
    overlap, DISJOINT = its negation, CONTAINS = item envelope covers
    the query envelope, WITHIN = item envelope inside it. An
    antimeridian-crossing query (west > east) splits into the two
    wrapped ranges: OR for intersects/within (either piece suffices),
    AND for contains (a non-wrapping item must cover both pieces —
    effectively the full longitude span).

    When the literal is a POLYGON, ``rings`` carries its vertex rings
    and INTERSECTS/DISJOINT compile to the EXACT
    polygon-vs-footprint predicate (plans/catalog.
    polygon_bbox_intersects — same Column tree the top-level
    `intersects=` search param uses, so the CQL2 spelling and the
    convenience param can never disagree). For a rectangular ring the
    exact test reduces to the envelope test, so previously-compiled
    rectangle filters are unchanged. CONTAINS/WITHIN stay
    envelope-based (exact when the query is a BBOX — the engine's
    footprints are boxes, and box-in-concave-polygon containment is
    not expressible against corner columns without the full
    even-odd machinery; documented conservative). Exact polygons do
    not antimeridian-wrap — split into a MultiPolygon first, as the
    search param requires."""
    if rings is not None and op in ("S_INTERSECTS", "S_DISJOINT"):
        from recipes_spark.plans.catalog import polygon_bbox_intersects

        cw, cs, ce, cn = spatial_cols
        # ``rings`` is a Polygon's ring list, or (JSON encoding only) a
        # MultiPolygon's polygon list tagged as a dict — the documented
        # antimeridian workaround (split at ±180 into a MultiPolygon)
        # must be expressible through CQL2, not just the top-level
        # intersects= param.
        geom = (
            rings
            if isinstance(rings, dict)
            else {"type": "Polygon", "coordinates": rings}
        )
        exact = polygon_bbox_intersects(geom, cw, cs, ce, cn)
        return ~exact if op == "S_DISJOINT" else exact
    if op == "S_DISJOINT":
        return ~_envelope_predicate(spatial_cols, env)
    w, s, e, n = env
    if op == "S_INTERSECTS":
        return _envelope_predicate(spatial_cols, env)
    if w > e:
        parts = [(w, s, 180.0, n), (-180.0, s, e, n)]
        a = _spatial_predicate(op, spatial_cols, parts[0])
        b = _spatial_predicate(op, spatial_cols, parts[1])
        return (a & b) if op == "S_CONTAINS" else (a | b)
    cw, cs, ce, cn = spatial_cols
    if op == "S_CONTAINS":
        return (cw <= w) & (cs <= s) & (ce >= e) & (cn >= n)
    # S_WITHIN
    return (cw >= w) & (cs >= s) & (ce <= e) & (cn <= n)


def _temporal_predicate(
    op: str,
    lo: str | None,
    hi: str | None,
    temporal_cols: tuple[Column, Column],
) -> Column:
    """T_INTERSECTS/ANYINTERACTS (item [start,end] overlaps query
    [lo,hi]; an open end drops its bound), T_BEFORE (item ends before
    the query starts), T_AFTER (item starts after the query ends),
    T_DURING (item inside the query interval; open ends drop their
    bound), T_CONTAINS (item covers the query interval — open query
    ends are rejected loudly: nothing finite contains an unbounded
    interval, and silently matching nothing is the compiler's one
    forbidden failure mode)."""
    start, end = temporal_cols

    def ts(v: str) -> Column:
        return F.lit(v).cast("timestamp")

    def _all(conds: list[Column]) -> Column:
        if not conds:
            return F.lit(True)
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out

    if op in ("T_INTERSECTS", "ANYINTERACTS"):
        conds = []
        if hi is not None:
            conds.append(start <= ts(hi))
        if lo is not None:
            conds.append(end >= ts(lo))
        return _all(conds)
    if op == "T_DURING":
        conds = []
        if lo is not None:
            conds.append(start >= ts(lo))
        if hi is not None:
            conds.append(end <= ts(hi))
        return _all(conds)
    if op == "T_CONTAINS":
        if lo is None or hi is None:
            raise CQLError("T_CONTAINS needs a bounded interval")
        return (start <= ts(lo)) & (end >= ts(hi))
    if op == "T_BEFORE":
        if lo is None:
            raise CQLError("T_BEFORE needs a bounded interval start")
        return end < ts(lo)
    # T_AFTER
    if hi is None:
        raise CQLError("T_AFTER needs a bounded interval end")
    return start > ts(hi)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN.match(text, pos)
        if not m:
            if text[pos:].strip():
                raise CQLError(f"bad token at: {text[pos:pos + 20]!r}")
            break
        pos = m.end()
        kind = m.lastgroup
        val = m.group(kind)
        if kind == "word" and val.upper() in _KEYWORDS:
            out.append((val.upper(), val))
        else:
            out.append((kind, val))
    out.append(("eof", ""))
    return out


class _Parser:
    def __init__(
        self,
        tokens: list[tuple[str, str]],
        spatial_cols: tuple[Column, Column, Column, Column] | None = None,
        temporal_cols: tuple[Column, Column] | None = None,
    ):
        self.toks = tokens
        self.i = 0
        self.spatial_cols = spatial_cols
        self.temporal_cols = temporal_cols

    def peek(self) -> str:
        return self.toks[self.i][0]

    def next(self, expect: str | None = None) -> str:
        kind, val = self.toks[self.i]
        if expect is not None and kind != expect:
            raise CQLError(f"expected {expect}, got {val!r}")
        self.i += 1
        return val

    # -- operands ----------------------------------------------------------
    def operand(self) -> Column:
        k = self.peek()
        if k == "num":
            v = self.next()
            return F.lit(float(v) if "." in v else int(v))
        if k == "str":
            return F.lit(self.next()[1:-1].replace("''", "'"))
        if k == "TIMESTAMP":
            self.next()
            self.next("lp")
            s = self.next("str")[1:-1]
            self.next("rp")
            return F.lit(_validate_instant(s, "timestamp")).cast("timestamp")
        if k == "DATE":
            self.next()
            self.next("lp")
            s = self.next("str")[1:-1]
            self.next("rp")
            return F.lit(_validate_instant(s, "date")).cast("date")
        if k == "CASEI":
            # CQL2 case-insensitive accessor: folds ONLY its own
            # operand (per-spec) — callers wanting case-blind equality
            # wrap BOTH sides, as in CASEI(x) = CASEI('Y').
            self.next()
            self.next("lp")
            inner = self.operand()
            self.next("rp")
            return F.lower(inner)
        if k == "ACCENTI":
            # CQL2 accent-insensitive accessor — same per-operand
            # folding contract as CASEI, via a fixed translate table
            # (pure Catalyst; pgstac's unaccent() is the reference).
            self.next()
            self.next("lp")
            inner = self.operand()
            self.next("rp")
            return F.translate(inner, _ACCENT_SRC, _ACCENT_DST)
        if k == "TRUE":
            self.next()
            return F.lit(True)
        if k == "FALSE":
            self.next()
            return F.lit(False)
        if k == "word":
            return F.col(self.next())
        if k == "qword":
            # CQL2 double-quoted identifier — the spelling for property
            # names outside the bare-word charset, e.g. "proj:epsg"
            # (the xstac projection property every reference pipeline
            # emits). Backquoted so Catalyst takes it verbatim (no
            # dot-splitting).
            name = self.next()[1:-1].replace("`", "``")
            return F.col(f"`{name}`")
        raise CQLError(f"expected operand, got {self.toks[self.i][1]!r}")

    # -- spatial / temporal function predicates ------------------------------
    def _num(self) -> float:
        return float(self.next("num"))

    def _geom_envelope(self):
        """Parse a geometry literal and return ((w, s, e, n), rings):
        the envelope plus, for POLYGON literals, the vertex ring —
        the spatial compiler uses the ring for the EXACT
        intersects/disjoint predicate and the envelope for everything
        else (exact for BBOX/POINT queries against the engine's bbox
        footprints, conservative for polygon contains/within)."""
        k = self.peek()
        if k == "BBOX":
            self.next()
            self.next("lp")
            vals = [self._num()]
            for _ in range(3):
                self.next("comma")
                vals.append(self._num())
            self.next("rp")
            w, s, e, n = vals
            return (w, s, e, n), None
        if k == "POINT":
            self.next()
            self.next("lp")
            x, y = self._num(), self._num()
            self.next("rp")
            return (x, y, x, y), None
        if k == "POLYGON":
            self.next()
            self.next("lp")
            self.next("lp")
            xs, ys = [self._num()], [self._num()]
            while self.peek() == "comma":
                self.next()
                xs.append(self._num())
                ys.append(self._num())
            self.next("rp")
            self.next("rp")
            ring = list(zip(xs, ys))
            return (min(xs), min(ys), max(xs), max(ys)), [ring]
        raise CQLError(
            f"expected BBOX/POINT/POLYGON geometry, got {self.toks[self.i][1]!r}"
        )

    def _interval(self) -> tuple[str | None, str | None]:
        """INTERVAL('lo','hi') with '..' open ends, or a TIMESTAMP/DATE
        instant — a TIMESTAMP is the degenerate [t, t], a DATE spans
        its whole day. Bounds are validated at compile time."""
        k = self.peek()
        if k == "INTERVAL":
            self.next()
            self.next("lp")
            lo = self.next("str")[1:-1]
            self.next("comma")
            hi = self.next("str")[1:-1]
            self.next("rp")
            return _expand_bounds(
                None if lo == ".." else lo, None if hi == ".." else hi
            )
        if k in ("TIMESTAMP", "DATE"):
            kind = self.next().upper()
            self.next("lp")
            s = self.next("str")[1:-1]
            self.next("rp")
            return _instant_bounds(kind, s)
        raise CQLError(
            f"expected INTERVAL/TIMESTAMP/DATE, got {self.toks[self.i][1]!r}"
        )

    def spatial_pred(self) -> Column:
        op = self.next().upper()  # S_INTERSECTS/S_CONTAINS/S_WITHIN/S_DISJOINT
        if self.spatial_cols is None:
            raise CQLError(
                f"{op} used but no spatial columns configured — "
                "pass spatial_cols= to compile_cql"
            )
        self.next("lp")
        self.next("word")  # the queryable name ('geometry') — resolved
        self.next("comma")  # through spatial_cols, pgstac-queryables style
        env, rings = self._geom_envelope()
        self.next("rp")
        return _spatial_predicate(op, self.spatial_cols, env, rings)

    def temporal_pred(self) -> Column:
        if self.temporal_cols is None:
            raise CQLError(
                "temporal operator used but no temporal columns configured "
                "— pass temporal_cols= to compile_cql"
            )
        op = self.next().upper()
        self.next("lp")
        self.next("word")  # the queryable name ('datetime') → interval cols
        self.next("comma")
        lo, hi = self._interval()
        self.next("rp")
        return _temporal_predicate(op, lo, hi, self.temporal_cols)

    # -- predicates --------------------------------------------------------
    def predicate(self) -> Column:
        k = self.peek()
        if k in _SPATIAL_OPS:
            return self.spatial_pred()
        if k in _TEMPORAL_OPS:
            return self.temporal_pred()
        left = self.operand()
        k = self.peek()
        negate = False
        if k == "NOT":
            self.next()
            k = self.peek()
            negate = True
        if k == "op":
            op = self.next()
            right = self.operand()
            col = {
                "=": left == right, "<>": left != right,
                "<": left < right, ">": left > right,
                "<=": left <= right, ">=": left >= right,
            }[op]
        elif k == "BETWEEN":
            self.next()
            lo = self.operand()
            self.next("AND")
            hi = self.operand()
            col = (left >= lo) & (left <= hi)
        elif k == "IN":
            self.next()
            self.next("lp")
            vals = [self.operand()]
            while self.peek() == "comma":
                self.next()
                vals.append(self.operand())
            self.next("rp")
            col = left.isin(*[v for v in vals])
        elif k == "IS":
            self.next()
            if self.peek() == "NOT":
                self.next()
                negate = not negate
            self.next("NULL")
            col = left.isNull()
        elif k == "LIKE":
            self.next()
            pat = self.next("str")[1:-1].replace("''", "'")
            col = left.like(pat)
        else:
            raise CQLError(f"expected comparison, got {self.toks[self.i][1]!r}")
        return ~col if negate else col

    # -- boolean structure -------------------------------------------------
    #: Max boolean-nesting depth. A recursive-descent parser's stack
    #: tracks input nesting, so unbounded '(((…' or 'NOT NOT …' from a
    #: hostile/garbage filter would escape as RecursionError — an
    #: uncontrolled crash class for a user-facing query compiler. Any
    #: legitimate catalog filter is orders of magnitude shallower.
    MAX_DEPTH = 200

    def unary(self, depth: int = 0) -> Column:
        if depth > self.MAX_DEPTH:
            raise CQLError(
                f"filter nesting deeper than {self.MAX_DEPTH} levels"
            )
        if self.peek() == "NOT":
            self.next()
            return ~self.unary(depth + 1)
        if self.peek() == "lp":
            self.next()
            c = self.or_expr(depth + 1)
            self.next("rp")
            return c
        return self.predicate()

    def and_expr(self, depth: int = 0) -> Column:
        c = self.unary(depth)
        while self.peek() == "AND":
            self.next()
            c = c & self.unary(depth)
        return c

    def or_expr(self, depth: int = 0) -> Column:
        c = self.and_expr(depth)
        while self.peek() == "OR":
            self.next()
            c = c | self.and_expr(depth)
        return c

    def parse(self) -> Column:
        c = self.or_expr()
        if self.peek() != "eof":
            raise CQLError(f"trailing input: {self.toks[self.i][1]!r}")
        return c


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _resolve_cols(
    spatial_cols: tuple[Column | str, ...] | None,
    temporal_cols: tuple[Column | str, Column | str] | None,
) -> tuple[
    tuple[Column, Column, Column, Column] | None,
    tuple[Column, Column] | None,
]:
    """Shared queryable resolution for both CQL2 encodings. The default
    sentinel is matched with an isinstance-guarded string compare:
    Column.__eq__ returns a Column, and truth-testing that raises —
    naively comparing a caller's Column tuple against the sentinel
    would crash instead of resolving."""
    sp = None
    if (
        spatial_cols is not None
        and len(spatial_cols) == 1
        and isinstance(spatial_cols[0], str)
        and spatial_cols[0] == "__item_bbox__"
    ):
        b = F.col("bbox")
        sp = (b[0], b[1], b[2], b[3])
    elif spatial_cols is not None:
        if len(spatial_cols) != 4:
            raise CQLError("spatial_cols must be 4 (w, s, e, n) columns")
        sp = tuple(_as_col(c) for c in spatial_cols)
    tp = (
        (_as_col(temporal_cols[0]), _as_col(temporal_cols[1]))
        if temporal_cols is not None
        else None
    )
    return sp, tp


def compile_cql(
    text: str,
    *,
    spatial_cols: tuple[Column | str, ...] | None = ("__item_bbox__",),
    temporal_cols: tuple[Column | str, Column | str] | None = (
        "start_datetime",
        "end_datetime",
    ),
) -> Column:
    """CQL2 text → Column predicate (feed to catalog_search(filter=…)).

    ``spatial_cols`` resolves the S_INTERSECTS queryable: either four
    (west, south, east, north) corner columns/names, or the default
    sentinel meaning the engine's STAC item shape — a 4-element ``bbox``
    array column (build_items' output). ``temporal_cols`` resolves the
    temporal queryable to the item's (start, end) interval columns.
    Pass None to reject spatial/temporal operators outright (a schema
    with no footprint)."""
    sp, tp = _resolve_cols(spatial_cols, temporal_cols)
    return _Parser(_tokenize(text), spatial_cols=sp, temporal_cols=tp).parse()


# -- cql2-json ------------------------------------------------------------

_JSON_CMP = {"=", "<>", "<", ">", "<=", ">="}


class _JsonWalker:
    """cql2-json AST → Column, emitting the SAME predicate tree as the
    text parser (both route through the shared builders above). This is
    the encoding stac-fastapi POSTs by default — pgstac evaluates both
    encodings identically (docker-compose.yml:2-28), and so do we."""

    MAX_DEPTH = _Parser.MAX_DEPTH

    def __init__(
        self,
        spatial_cols: tuple[Column, Column, Column, Column] | None,
        temporal_cols: tuple[Column, Column] | None,
    ):
        self.spatial_cols = spatial_cols
        self.temporal_cols = temporal_cols

    def walk(self, node, depth: int = 0) -> Column:
        if depth > self.MAX_DEPTH:
            raise CQLError(
                f"filter nesting deeper than {self.MAX_DEPTH} levels"
            )
        if not isinstance(node, dict) or "op" not in node:
            raise CQLError(f"expected {{'op': …, 'args': …}}, got {node!r}")
        op = str(node["op"]).lower()
        args = node.get("args", [])
        if not isinstance(args, list):
            raise CQLError(f"args of {op!r} must be a list")
        if op in ("and", "or"):
            if not args:
                raise CQLError(f"{op!r} needs at least one argument")
            parts = [self.walk(a, depth + 1) for a in args]
            out = parts[0]
            for p in parts[1:]:
                out = (out & p) if op == "and" else (out | p)
            return out
        if op == "not":
            self._arity(op, args, 1)
            return ~self.walk(args[0], depth + 1)
        if op in _JSON_CMP:
            self._arity(op, args, 2)
            left, right = self.operand(args[0]), self.operand(args[1])
            return {
                "=": left == right, "<>": left != right,
                "<": left < right, ">": left > right,
                "<=": left <= right, ">=": left >= right,
            }[op]
        if op == "between":
            self._arity(op, args, 3)
            a = self.operand(args[0])
            return (a >= self.operand(args[1])) & (a <= self.operand(args[2]))
        if op == "in":
            self._arity(op, args, 2)
            if not isinstance(args[1], list) or not args[1]:
                raise CQLError("'in' needs a non-empty list second argument")
            return self.operand(args[0]).isin(
                *[self.operand(v) for v in args[1]]
            )
        if op == "isnull":
            self._arity(op, args, 1)
            return self.operand(args[0]).isNull()
        if op == "like":
            self._arity(op, args, 2)
            if not isinstance(args[1], str):
                raise CQLError("'like' pattern must be a string")
            return self.operand(args[0]).like(args[1])
        if op in ("s_intersects", "s_contains", "s_within", "s_disjoint"):
            if self.spatial_cols is None:
                raise CQLError(
                    f"{op} used but no spatial columns configured — "
                    "pass spatial_cols= to compile_cql_json"
                )
            self._arity(op, args, 2)
            env, rings = self._geom_envelope(args[1])
            return _spatial_predicate(
                op.upper(), self.spatial_cols, env, rings
            )
        if op in ("t_intersects", "anyinteracts", "t_before", "t_after",
                  "t_during", "t_contains"):
            if self.temporal_cols is None:
                raise CQLError(
                    "temporal operator used but no temporal columns "
                    "configured — pass temporal_cols= to compile_cql_json"
                )
            self._arity(op, args, 2)
            lo, hi = self._interval(args[1])
            return _temporal_predicate(op.upper(), lo, hi, self.temporal_cols)
        raise CQLError(f"unsupported cql2-json op: {op!r}")

    @staticmethod
    def _arity(op: str, args: list, n: int) -> None:
        if len(args) != n:
            raise CQLError(f"{op!r} takes {n} arguments, got {len(args)}")

    def operand(self, node) -> Column:
        if isinstance(node, dict):
            if "property" in node:
                return F.col(str(node["property"]))
            if str(node.get("op", "")).lower() == "casei":
                # Per-spec accessor: folds only its own operand — wrap
                # BOTH sides for case-blind equality.
                args = node.get("args", [])
                self._arity("casei", args, 1)
                return F.lower(self.operand(args[0]))
            if str(node.get("op", "")).lower() == "accenti":
                args = node.get("args", [])
                self._arity("accenti", args, 1)
                return F.translate(
                    self.operand(args[0]), _ACCENT_SRC, _ACCENT_DST
                )
            if "timestamp" in node:
                return F.lit(
                    _validate_instant(node["timestamp"], "timestamp")
                ).cast("timestamp")
            if "date" in node:
                return F.lit(_validate_instant(node["date"], "date")).cast(
                    "date"
                )
            raise CQLError(f"unsupported operand: {node!r}")
        if isinstance(node, (bool, int, float, str)):
            return F.lit(node)
        raise CQLError(f"unsupported literal: {node!r}")

    @staticmethod
    def _geom_envelope(g):
        """GeoJSON geometry / {'bbox': […]} → ((w, s, e, n), rings) —
        envelope plus, for Polygons, ALL vertex rings (exterior +
        holes: the JSON encoding, unlike the text grammar, carries
        holes, and the exact intersects predicate is even-odd
        hole-aware). A MultiPolygon returns its full geometry dict
        (envelope spans all exterior rings; the exact predicate treats
        it as a union) — the antimeridian split this module documents
        as the wrap workaround. Malformed coordinate structures (wrong
        arity, non-numeric, missing) raise CQLError, never
        Index/Type/ValueError — the geometry arrives off the wire and
        the crash class is the API."""
        if not isinstance(g, dict):
            raise CQLError(f"expected geometry object, got {g!r}")
        try:
            if "bbox" in g:
                box = g["bbox"]
                if not (isinstance(box, list) and len(box) == 4):
                    raise CQLError("bbox must be [west, south, east, north]")
                w, s, e, n = (float(v) for v in box)
                return (w, s, e, n), None
            typ = str(g.get("type", "")).lower()
            coords = g.get("coordinates")
            if typ == "point":
                x, y = float(coords[0]), float(coords[1])
                return (x, y, x, y), None
            if typ == "polygon":
                if not coords or not coords[0]:
                    raise CQLError("polygon needs a non-empty exterior ring")
                rings = [
                    [(float(p[0]), float(p[1])) for p in ring]
                    for ring in coords
                ]
                xs = [x for x, _ in rings[0]]
                ys = [y for _, y in rings[0]]
                return (min(xs), min(ys), max(xs), max(ys)), rings
            if typ == "multipolygon":
                if not coords or not all(p and p[0] for p in coords):
                    raise CQLError(
                        "multipolygon needs a non-empty exterior ring "
                        "per polygon"
                    )
                polys = [
                    [
                        [(float(p[0]), float(p[1])) for p in ring]
                        for ring in poly
                    ]
                    for poly in coords
                ]
                xs = [x for poly in polys for x, _ in poly[0]]
                ys = [y for poly in polys for _, y in poly[0]]
                return (min(xs), min(ys), max(xs), max(ys)), {
                    "type": "MultiPolygon",
                    "coordinates": polys,
                }
        except (TypeError, ValueError, IndexError, KeyError) as exc:
            raise CQLError(f"malformed geometry {g!r}: {exc}") from None
        raise CQLError(f"unsupported geometry type: {g.get('type')!r}")

    @staticmethod
    def _interval(node) -> tuple[str | None, str | None]:
        if isinstance(node, dict):
            if "interval" in node:
                iv = node["interval"]
                if not (isinstance(iv, list) and len(iv) == 2):
                    raise CQLError("interval must be a 2-element list")
                lo, hi = iv
                for v in (lo, hi):
                    if v is not None and not isinstance(v, str):
                        raise CQLError(
                            f"interval bounds must be strings, got {v!r}"
                        )
                return _expand_bounds(
                    None if lo in ("..", None) else lo,
                    None if hi in ("..", None) else hi,
                )
            if "timestamp" in node:
                return _instant_bounds("TIMESTAMP", node["timestamp"])
            if "date" in node:
                return _instant_bounds("DATE", node["date"])
        raise CQLError(f"expected interval/timestamp/date, got {node!r}")


def compile_cql_json(
    filt,
    *,
    spatial_cols: tuple[Column | str, ...] | None = ("__item_bbox__",),
    temporal_cols: tuple[Column | str, Column | str] | None = (
        "start_datetime",
        "end_datetime",
    ),
) -> Column:
    """CQL2 JSON (dict or JSON string) → Column predicate — the POST
    /search encoding stac-fastapi sends by default. Same queryable
    resolution and the same compiled predicate tree as compile_cql:
    both encodings of one filter produce identical pushdown-friendly
    column arithmetic (asserted in tests/test_cql.py)."""
    if isinstance(filt, (str, bytes)):
        import json

        try:
            filt = json.loads(filt)
        except ValueError as e:
            raise CQLError(f"invalid cql2-json: {e}") from None
    sp, tp = _resolve_cols(spatial_cols, temporal_cols)
    return _JsonWalker(sp, tp).walk(filt)
