"""SPARQL -> DataFrame compiler: the engine-native counterpart of
the reference's triplestore query surface.

The reference answers annotation/describe queries by POSTing SPARQL to
an external triplestore (``construct_annotations`` ->
``TripleStore.construct``, /root/reference/ferenda/documentrepository.py:
2471-2488, template /root/reference/ferenda/res/sparql/annotations.rq)
and ships per-repo query templates.  Here the triple table IS a
DataFrame, so the same queries compile to a Catalyst join plan instead
of leaving the engine.

Supported subset — everything the reference's 17 shipped ``.rq``
templates use (res/sparql/*.rq across ferenda core, tech, legal/se,
general, and lagen.nu), plus the common SELECT forms:

* ``PREFIX`` declarations, ``a`` for rdf:type
* ``SELECT ?v ... WHERE { ... }`` (incl. ``*``), ``DISTINCT``,
  ``ORDER BY``, ``LIMIT``, ``OFFSET``
* aggregates ``(COUNT([DISTINCT] ?v|*) AS ?n)`` / SUM / MIN / MAX /
  AVG / SAMPLE / ``GROUP_CONCAT(?v; SEPARATOR="...")`` with
  ``GROUP BY`` -> groupBy().agg() (map-side partial aggregation for
  free) and ``HAVING`` over the aggregate aliases (GROUP_CONCAT sorts
  its values — SPARQL leaves the order unspecified, a deterministic
  result is oracle-comparable)
* ``CONSTRUCT { template } WHERE { ... }`` -> a (subj, pred, obj)
  DataFrame (one union branch per template pattern); the
  ``CONSTRUCT WHERE { ... }`` shorthand for plain-pattern groups
* ``ASK { ... }`` -> one boolean ``answer`` row;
  ``DESCRIBE <uri>... [?v...] [WHERE { ... }]`` -> the targets'
  outbound + inbound triples (variable targets resolved from the
  WHERE solution via semi joins, never a driver collect)
* basic graph patterns joined on shared variables, with
  predicate-object lists (``;``) and object lists (``,``)
* ``OPTIONAL { ... }`` -> left outer join; a later OPTIONAL may bind
  what an earlier one left unbound
* ``{ ... } UNION { ... } UNION { ... }`` (n-ary) -> unionByName with
  null-padded unbound vars, which join as unbound; a braced group NOT
  followed by UNION is merged into its parent (group nesting)
* ``GRAPH <iri> { ... }`` -> transparent: the engine is a
  single-graph store, the DataFrame handed in IS the named dataset
  (the reference parameterizes ``%(context)s`` per repo the same way)
* ``BIND(expr AS ?v)`` -> withColumn at the group's position
* ``FILTER [NOT] EXISTS { ... }`` -> left semi / left anti join on the
  shared variables, an unbound one matching any value;
  ``MINUS { ... }`` -> left anti join that also needs a shared
  variable bound on both sides, so a MINUS sharing none removes nothing
* ``VALUES ?x { ... }`` / ``VALUES (?x ?y) { (a b) ... }`` -> inline
  literal DataFrame joined into the solution; an ``UNDEF`` cell is
  unbound and matches any value
* subqueries ``{ SELECT ... WHERE { ... } GROUP BY ... }`` -> the
  inner SELECT compiles to its own (projected) solution DataFrame and
  joins the outer group on the shared variables, its unbound ones
  matching any value; a projected variable keeps its URI-ness and
  language tag for the outer group's isURI/isLiteral/lang
* ``FILTER (...)`` with the full expression grammar the templates
  use: ``= != < <= > >= && || !``, parentheses, ``?x IN (iri, ...)``,
  ``regex(?v,"re")``, ``bound(?v)``, ``str(x)``, ``STRSTARTS/STRENDS/
  CONTAINS(a, b)`` (either argument an expression), ``LCASE/UCASE/
  STRLEN``, ``isURI/isIRI/isLiteral(?v)`` — URI-ness is exact, read
  from the triple schema's ``obj_is_uri`` flag (operators/triples.py
  TRIPLES_COLS), not guessed from the string — and ``lang(?v)`` /
  ``langMatches(lang(?v), "tag"|"*")`` read the same way from the
  schema's ``obj_lang`` column (RFC 4647 basic filtering: exact
  primary tag or ``tag-`` prefix, ``*`` = any tagged literal) — plus
  ``CONCAT``, ``COALESCE``, ``IF``, ``SUBSTR`` (1-based),
  regex-based ``REPLACE``, spec-faithful ``STRBEFORE`` /
  ``STRAFTER`` ('' when the needle is absent), ``IRI()/URI()``,
  ``sameTerm``, ``isBlank``, arithmetic ``+ - * /`` with the usual
  precedence, and ``xsd:`` constructor casts compiled as
  ``try_cast``.  FILTER, BIND and HAVING expressions compile to
  ``Column``s (``_ExprCompiler``), never to Spark SQL text.  A string
  compared with a number, or an operand of arithmetic, is read with
  ``try_cast(... AS DOUBLE)``: a SPARQL type error is NULL ->
  filter-false (or an unbound BIND variable), never an ANSI runtime
  abort on dirty data
* property paths: quantifiers ``p*`` / ``p+`` / ``p?`` / ``p{m,n}``
  (e.g. the reference's ``dcterms:isPartOf{,1}`` in
  prop-annotations.rq), sequence ``p1/p2``, inverse ``^p``,
  alternation ``p1|p2``, negated property sets ``!p`` / ``!(p1|p2)``
  (forward members only) and parenthesized combinations with
  quantifiers.  Every quantified element, a bare ``p*`` included, is
  one closure (``_closure``), and the closure is exact: ``*``, ``+``
  and ``{m,}`` iterate to a fixpoint however deep the graph nests
  (``{m,}`` with m >= 2 is m exact steps, then ``*``), and ``{m,n}``
  takes at most n exact-length steps.  A walk that still finds new
  pairs after ``_CLOSURE_MAX_ROUNDS`` rounds raises ``RuntimeError``
  instead of returning part of the answer.  When the quantified
  element is the whole path and the pattern has a constant subject
  (else object), the walk starts there: ``?part dct:isPartOf*
  <doc>`` visits only that document's part tree.  Zero-length paths
  follow one rule for every path form: a constant endpoint reaches
  itself (also when it is not in the graph), and a variable-to-variable
  path ranges over the nodes of its own edge subgraph (a documented
  deviation from the spec's all-terms domain).  Path results are
  sets, for sequences and alternations too: ``?x p/q ?y`` yields each
  (x, y) pair once however many middle nodes join them, where the
  spec counts one solution per path.

Spark shape / scale notes:

* Each triple pattern is a FILTERED SCAN of the triples table — its
  constant terms (pred almost always, often subj or obj too) become
  pushed-down predicates.  Partition pruning applies when the input
  carries the ``pred_bucket`` column of the pipeline's triple log (a
  ``spark.read.parquet`` of it, or ``pipeline.current_triples`` over
  one): the compiler keeps that column, and every scan with a bound
  predicate (``pred = <iri>``, and the single ``isin`` scan of a plain
  alternation) adds its bucket as a partition filter
  (``pipeline.where_pred``), so at 100 TB a pattern reads only its
  pred_bucket partitions.  Variable predicates, negated property sets
  and inputs without the column read every partition.
* Patterns are joined GREEDILY in selectivity order (most bound
  constants first), always preferring a pattern that shares a variable
  with the solution built so far — a cartesian product only happens if
  the query itself is disconnected.
* A pattern bound by 2+ constants is a needle in the table => its scan
  is broadcast-hinted into the join.
* A closure materializes its edge set once (one pred-filtered scan,
  ``localCheckpoint``) and then each round's new frontier, so a round
  joins two materialized sets and the plan does not grow with the
  depth.  No rows reach the driver; each round costs two small jobs
  (materialize, test for empty), which run when the query is
  compiled, not when its result is collected.
* The ``obj_is_uri`` shadow columns that power isURI/isLiteral are
  only materialized when the query actually uses those functions, so
  the common case pays nothing.
"""

from __future__ import annotations

import functools
import operator
import re
from dataclasses import dataclass, field
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (DataType, NumericType, StringType,
                               StructField, StructType)

from ferenda_spark.pipeline import where_pred

_TOKEN_RE = re.compile(
    r"""\s*(?:
      (?P<comment>\#[^\n]*)
    | (?P<iri><[^>\s]*>)
    | (?P<var>\?[A-Za-z_][A-Za-z0-9_]*)
    | (?P<lit>"(?:[^"\\]|\\.)*")
    | (?P<num>-?\d+(?:\.\d+)?)
    | (?P<pname>[A-Za-z_][A-Za-z0-9_-]*:
        (?:[A-Za-z0-9_%-]|\.(?=[A-Za-z0-9_%-]))*)   # dot only mid-name,
                                 # so 'dcterms:title .' keeps the period
    | (?P<kw>(?:PREFIX|SELECT|CONSTRUCT|DESCRIBE|ASK|WHERE|OPTIONAL|UNION
        |FILTER|BIND|GRAPH|DISTINCT|ORDER|BY|LIMIT|OFFSET|ASC|DESC|a)
        (?![A-Za-z0-9_]))
    | (?P<ident>[A-Za-z_][A-Za-z0-9_]*)   # FILTER function names, AS, IN
    | (?P<punct>&&|\|\||!=|<=|>=|[{}().;,*+=<>!/^?|-])
    )""",
    re.X | re.I)

_NUM_RE = re.compile(r"-?\d+(\.\d+)?")
RDF_TYPE = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
_SHADOW = "__isuri__"       # prefix of the per-var URI-ness shadow column
_LANG_SHADOW = "__lang__"   # prefix of the per-var language-tag column
_SHADOW_PREFIXES = (_SHADOW, _LANG_SHADOW)


def _is_shadow(c: str) -> bool:
    return c.startswith(_SHADOW_PREFIXES)


_ECHAR = {"t": "\t", "b": "\b", "n": "\n", "r": "\r", "f": "\f"}


def _unescape(lit: str) -> str:
    """The value of a quoted SPARQL string token (``\\X`` escapes)."""
    return re.sub(r"\\(.)", lambda m: _ECHAR.get(m.group(1), m.group(1)),
                  lit[1:-1])


def _tokenize(q: str) -> list[str]:
    toks, pos = [], 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            if q[pos:].strip():
                raise ValueError(f"sparql: cannot tokenize at {q[pos:pos+30]!r}")
            break
        pos = m.end()
        if m.lastgroup != "comment":
            toks.append(m.group(m.lastgroup))
    return toks


@dataclass
class Term:
    kind: str   # var | iri | lit
    value: str


@dataclass
class Pattern:
    s: Term
    p: Term     # kind 'iri'/'var', or 'path' with value = a PathAlt
    o: Term


@dataclass
class PathElt:
    """One path element: a predicate IRI, a parenthesized
    subexpression, or a negated property set — optionally inverted
    and/or quantified."""
    iri: str | None = None
    inverse: bool = False
    quant: tuple[int, int | None] | None = None
    group: "PathAlt | None" = None
    neg: list | None = None   # !(iri|...) — forward members only


@dataclass
class PathSeq:
    elts: list    # [PathElt]


@dataclass
class PathAlt:
    seqs: list    # [PathSeq]


@dataclass
class Group:
    patterns: list = field(default_factory=list)   # [Pattern]
    optionals: list = field(default_factory=list)  # [Group]
    unions: list = field(default_factory=list)     # [[Group, Group, ...]]
    filters: list = field(default_factory=list)    # [token list]
    binds: list = field(default_factory=list)      # [(expr tokens, varname)]
    exists: list = field(default_factory=list)     # [(positive, Group)]
    minuses: list = field(default_factory=list)    # [Group]
    values: list = field(default_factory=list)     # [(varnames, rows)]
    subselects: list = field(default_factory=list)  # [Query]


@dataclass
class Agg:
    func: str        # count | sum | min | max | avg | sample | group_concat
    var: str | None  # None = COUNT(*)
    alias: str
    distinct: bool = False
    sep: str = " "   # GROUP_CONCAT separator


@dataclass
class Query:
    form: str                 # select | construct | ask | describe
    select_vars: list[str]    # [] means *
    distinct: bool
    template: list[Pattern]   # construct template
    where: Group
    order_by: list[tuple[str, bool]]  # (var, ascending)
    limit: int | None
    aggs: list[Agg] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    offset: int | None = None
    having: list = field(default_factory=list)   # [token list]


class _Cursor:
    """A read position in a token list.  ``expect`` ignores case, so
    keywords match however the query spells them."""
    _END = "query"       # what an early end is the end of
    _EXPECTED = "expected"

    def __init__(self, toks: list[str]):
        self.toks = toks
        self.i = 0

    def peek(self, ahead: int = 0) -> str | None:
        j = self.i + ahead
        return self.toks[j] if j < len(self.toks) else None

    def next(self) -> str:
        t = self.peek()
        if t is None:
            raise ValueError(f"sparql: unexpected end of {self._END}")
        self.i += 1
        return t

    def expect(self, tok: str) -> None:
        t = self.next()
        if t.upper() != tok.upper():
            raise ValueError(f"sparql: {self._EXPECTED} {tok!r}, got {t!r}")


class _Parser(_Cursor):
    def __init__(self, toks: list[str]):
        super().__init__(toks)
        self.prefixes: dict[str, str] = {}

    def _expand_pname(self, t: str) -> str:
        pfx, local = t.split(":", 1)
        if pfx not in self.prefixes:
            raise ValueError(f"sparql: unknown prefix {pfx!r}")
        return self.prefixes[pfx] + local

    def term(self) -> Term:
        t = self.next()
        if t.startswith("?"):
            if t[1:].startswith("__"):
                raise ValueError(
                    "sparql: variable names starting with __ are reserved")
            return Term("var", t[1:])
        if t.startswith("<"):
            return Term("iri", t[1:-1])
        if t.startswith('"'):
            return Term("lit", _unescape(t))
        if t == "a":
            return Term("iri", RDF_TYPE)
        if ":" in t:
            return Term("iri", self._expand_pname(t))
        if _NUM_RE.fullmatch(t):
            return Term("lit", t)
        raise ValueError(f"sparql: bad term {t!r}")

    def parse(self) -> Query:
        while self.peek() and self.peek().upper() == "PREFIX":
            self.next()
            pname = self.next()           # e.g. dcterms:
            iri = self.next()             # <...>
            self.prefixes[pname.rstrip(":")] = iri[1:-1]
        form = self.next().upper()
        if form == "DESCRIBE":
            # DESCRIBE <uri>... / DESCRIBE ?v WHERE { ... }; variable
            # targets are stored "?"-prefixed in select_vars
            targets = []
            has_var = False
            while self.peek() and self.peek().upper() != "WHERE":
                t = self.term()
                if t.kind == "var":
                    targets.append("?" + t.value)
                    has_var = True
                elif t.kind == "iri":
                    targets.append(t.value)
                else:
                    raise ValueError(
                        "sparql: DESCRIBE takes IRIs or variables")
            where = Group()
            if self.peek() and self.peek().upper() == "WHERE":
                self.next()
                self.expect("{")
                where = self.group()
                self.expect("}")
            elif has_var:
                raise ValueError(
                    "sparql: DESCRIBE with variables needs a WHERE group")
            return Query("describe", targets, False, [], where, [], None)
        if form not in ("SELECT", "CONSTRUCT", "ASK"):
            raise ValueError(f"sparql: unsupported form {form}")
        select_vars: list[str] = []
        aggs: list[Agg] = []
        distinct = False
        template: list[Pattern] = []
        if form == "SELECT":
            select_vars, aggs, distinct = self._select_head()
            self.expect("WHERE")
        elif form == "CONSTRUCT":
            if self.peek() and self.peek().upper() == "WHERE":
                # CONSTRUCT WHERE { ... } shorthand: the (plain
                # triple-pattern) group is both template and WHERE
                self.next()
                self.expect("{")
                where = self.group()
                self.expect("}")
                if (where.unions or where.optionals or where.filters
                        or where.binds or where.exists or where.minuses
                        or where.values or where.subselects
                        or any(p.p.kind == "path"
                               for p in where.patterns)):
                    raise ValueError(
                        "sparql: CONSTRUCT WHERE shorthand allows only "
                        "plain triple patterns")
                (order_by, group_by, limit,
                 offset, having) = self._modifiers()
                return Query("construct", [], False,
                             list(where.patterns), where, order_by,
                             limit, [], group_by, offset, having)
            self.expect("{")
            template = self.pattern_list()
            self.expect("}")
            self.expect("WHERE")
        elif form == "ASK":            # WHERE keyword optional
            if self.peek() and self.peek().upper() == "WHERE":
                self.next()
        self.expect("{")
        where = self.group()
        self.expect("}")
        order_by, group_by, limit, offset, having = self._modifiers()
        return Query(form.lower(), select_vars, distinct, template,
                     where, order_by, limit, aggs, group_by, offset,
                     having)

    def _select_head(self) -> tuple[list[str], list[Agg], bool]:
        select_vars: list[str] = []
        aggs: list[Agg] = []
        distinct = False
        if self.peek() and self.peek().upper() == "DISTINCT":
            self.next()
            distinct = True
        while self.peek() and (self.peek().startswith("?")
                               or self.peek() in ("*", "(")):
            t = self.next()
            if t == "(":          # (FUNC([DISTINCT] ?v|*) AS ?alias)
                aggs.append(self._agg())
            elif t != "*":
                select_vars.append(t[1:])
        return select_vars, aggs, distinct

    def _modifiers(self, stop: str | None = None):
        order_by: list[tuple[str, bool]] = []
        group_by: list[str] = []
        limit = None
        offset = None
        having: list = []
        while self.peek() and (stop is None or self.peek() != stop):
            t = self.next().upper()
            if t == "GROUP":
                self.expect("BY")
                while self.peek() and self.peek().startswith("?"):
                    group_by.append(self.next()[1:])
            elif t == "ORDER":
                self.expect("BY")
                while self.peek() and (self.peek().startswith("?")
                                       or self.peek().upper() in ("ASC",
                                                                  "DESC")):
                    asc = True
                    if self.peek().upper() in ("ASC", "DESC"):
                        asc = self.next().upper() == "ASC"
                        self.expect("(")
                        v = self.next()
                        self.expect(")")
                    else:
                        v = self.next()
                    order_by.append((v[1:], asc))
            elif t == "LIMIT":
                limit = int(self.next())
            elif t == "OFFSET":
                offset = int(self.next())
            elif t == "HAVING":
                having.append(self._filter_tokens())
            else:
                raise ValueError(f"sparql: unexpected trailing {t!r}")
        return order_by, group_by, limit, offset, having

    def _subselect(self) -> Query:
        """``{ SELECT ... WHERE { ... } GROUP BY ... }`` inside a
        group — the SELECT token is already consumed."""
        select_vars, aggs, distinct = self._select_head()
        if self.peek() and self.peek().upper() == "WHERE":
            self.next()
        self.expect("{")
        where = self.group()
        self.expect("}")
        order_by, group_by, limit, offset, having = self._modifiers("}")
        return Query("select", select_vars, distinct, [], where,
                     order_by, limit, aggs, group_by, offset, having)

    def _agg(self) -> Agg:
        func = self.next().lower()
        if func not in ("count", "sum", "min", "max", "avg", "sample",
                        "group_concat"):
            raise ValueError(f"sparql: unsupported aggregate {func!r}")
        self.expect("(")
        adist = False
        if self.peek() and self.peek().upper() == "DISTINCT":
            self.next()
            adist = True
        v = self.next()
        var = None if v == "*" else v[1:]
        sep = " "
        if func == "group_concat" and self.peek() == ";":
            self.next()
            kw = self.next()
            if kw.upper() != "SEPARATOR":
                raise ValueError(
                    f"sparql: expected SEPARATOR, got {kw!r}")
            self.expect("=")
            lit = self.next()
            if not lit.startswith('"'):
                raise ValueError("sparql: SEPARATOR needs a literal")
            sep = _unescape(lit)
        self.expect(")")
        as_kw = self.next()
        if as_kw.upper() != "AS":
            raise ValueError(f"sparql: expected AS, got {as_kw!r}")
        alias = self.next()
        if not alias.startswith("?"):
            raise ValueError("sparql: aggregate alias must be a ?var")
        self.expect(")")
        return Agg(func, var, alias[1:], adist, sep)

    def pattern_list(self) -> list[Pattern]:
        pats: list[Pattern] = []
        while self.peek() and self.peek() != "}":
            pats.extend(self.pattern_block())
            if self.peek() == ".":
                self.next()
        return pats

    def _path_quant(self) -> tuple[int, int | None] | None:
        t = self.peek()
        if t == "*":
            self.next()
            return (0, None)
        if t == "+":
            self.next()
            return (1, None)
        if t == "?":
            self.next()
            return (0, 1)
        if t == "{":
            # {m,n} / {,n} / {m,} — SPARQL 1.1 draft quantifiers the
            # reference uses (prop-annotations.rq 'isPartOf{,1}')
            self.next()
            lo = 0
            if self.peek() and re.fullmatch(r"\d+", self.peek()):
                lo = int(self.next())
            self.expect(",")
            hi = None
            if self.peek() and re.fullmatch(r"\d+", self.peek()):
                hi = int(self.next())
            self.expect("}")
            if hi is not None and hi < lo:
                raise ValueError(f"sparql: empty path quantifier {{{lo},{hi}}}")
            return (lo, hi)
        return None

    def _path_elt(self) -> PathElt:
        inv = False
        if self.peek() == "^":
            self.next()
            inv = True
        if self.peek() == "!":
            # negated property set: !iri or !(iri|iri|...), forward
            # members only (inverse members unsupported)
            self.next()
            if inv:
                raise ValueError(
                    "sparql: ^! path combination is not supported")
            iris = []
            if self.peek() == "(":
                self.next()
                while True:
                    t = self.term()
                    if t.kind != "iri":
                        raise ValueError(
                            "sparql: negated property sets take IRIs")
                    iris.append(t.value)
                    if self.peek() == "|":
                        self.next()
                        continue
                    break
                self.expect(")")
            else:
                t = self.term()
                if t.kind != "iri":
                    raise ValueError(
                        "sparql: negated property sets take IRIs")
                iris.append(t.value)
            return PathElt(None, False, self._path_quant(), None, iris)
        if self.peek() == "(":
            self.next()
            alt = self._path_alt()
            self.expect(")")
            return PathElt(None, inv, self._path_quant(), alt)
        t = self.term()
        if t.kind != "iri":
            raise ValueError(
                "sparql: property path elements must be IRIs")
        return PathElt(t.value, inv, self._path_quant())

    def _path_seq(self, first: PathElt | None = None) -> PathSeq:
        elts = [first if first is not None else self._path_elt()]
        while self.peek() == "/":
            self.next()
            elts.append(self._path_elt())
        return PathSeq(elts)

    def _path_alt(self, first: PathElt | None = None) -> PathAlt:
        seqs = [self._path_seq(first)]
        while self.peek() == "|":
            self.next()
            seqs.append(self._path_seq())
        return PathAlt(seqs)

    def _pred(self) -> Term:
        """The predicate position: a var, a bare IRI — the fast scan
        path — or a path expression (a quantified IRI is a one-element
        path)."""
        if self.peek() in ("^", "(", "!"):
            return Term("path", self._path_alt())
        p = self.term()
        quant = self._path_quant()
        if quant is None and self.peek() not in ("/", "|"):
            return p
        if p.kind != "iri":
            raise ValueError("sparql: property path elements must be IRIs")
        return Term("path", self._path_alt(PathElt(p.value, False, quant)))

    def pattern_block(self) -> list[Pattern]:
        """One subject's statements: ``s p1 o1a, o1b ; p2 o2`` ->
        patterns sharing the subject (``;`` predicate-object lists and
        ``,`` object lists)."""
        s = self.term()
        pats: list[Pattern] = []
        while True:
            p = self._pred()
            pats.append(Pattern(s, p, self.term()))
            while self.peek() == ",":
                self.next()
                pats.append(Pattern(s, p, self.term()))
            if self.peek() == ";":
                self.next()
                if self.peek() in (None, ".", "}", ";"):   # trailing ;
                    break
                continue
            break
        return pats

    def group(self) -> Group:
        g = Group()
        while True:
            t = self.peek()
            if t is None or t == "}":
                return g
            up = t.upper()
            if up == "OPTIONAL":
                self.next()
                self.expect("{")
                g.optionals.append(self.group())
                self.expect("}")
            elif up == "FILTER":
                self.next()
                nt = self.peek()
                if nt and nt.upper() == "EXISTS":
                    self.next()
                    self.expect("{")
                    g.exists.append((True, self.group()))
                    self.expect("}")
                elif nt and nt.upper() == "NOT" \
                        and (self.peek(1) or "").upper() == "EXISTS":
                    self.next()
                    self.next()
                    self.expect("{")
                    g.exists.append((False, self.group()))
                    self.expect("}")
                else:
                    g.filters.append(self._filter_tokens())
            elif up == "MINUS":
                self.next()
                self.expect("{")
                g.minuses.append(self.group())
                self.expect("}")
            elif up == "VALUES":
                self.next()
                g.values.append(self._values())
            elif up == "BIND":
                self.next()
                toks = self._filter_tokens()
                # split on the top-level AS
                depth, split = 0, None
                for j, bt in enumerate(toks):
                    if bt == "(":
                        depth += 1
                    elif bt == ")":
                        depth -= 1
                    elif depth == 0 and bt.upper() == "AS":
                        split = j
                if split is None or split + 1 >= len(toks) \
                        or not toks[split + 1].startswith("?"):
                    raise ValueError("sparql: BIND needs (expr AS ?var)")
                g.binds.append((toks[:split], toks[split + 1][1:]))
            elif up == "GRAPH":
                # single-graph store: the DataFrame handed to
                # sparql_query IS the named dataset, so the GRAPH
                # wrapper is transparent (constant graph names only)
                self.next()
                gterm = self.term()
                if gterm.kind == "var":
                    raise ValueError(
                        "sparql: GRAPH with a variable graph name is "
                        "not supported (single-graph store)")
                self.expect("{")
                self._merge(g, self.group())
                self.expect("}")
            elif t == "{":
                self.next()
                if self.peek() and self.peek().upper() == "SELECT":
                    self.next()
                    g.subselects.append(self._subselect())
                    self.expect("}")
                    continue
                first = self.group()
                self.expect("}")
                branches = [first]
                while self.peek() and self.peek().upper() == "UNION":
                    self.next()
                    self.expect("{")
                    branches.append(self.group())
                    self.expect("}")
                if len(branches) == 1:   # plain nested group: merge
                    self._merge(g, first)
                else:
                    g.unions.append(branches)
            elif t == ".":
                self.next()
            else:
                g.patterns.extend(self.pattern_block())
        return g

    def _values(self) -> tuple[list[str], list[tuple]]:
        """``VALUES ?x { v... }`` or ``VALUES (?x ?y) { (vx vy)... }``."""
        def cell() -> str | None:      # None: UNDEF, an unbound cell
            if (self.peek() or "").upper() == "UNDEF":
                self.next()
                return None
            t = self.term()
            if t.kind == "var":
                raise ValueError("sparql: VALUES data must be constants")
            return t.value
        if self.peek() == "(":
            self.next()
            names = []
            while self.peek() != ")":
                v = self.next()
                if not v.startswith("?"):
                    raise ValueError(f"sparql: VALUES expects ?vars, got {v!r}")
                names.append(v[1:])
            self.next()
            self.expect("{")
            rows = []
            while self.peek() == "(":
                self.next()
                row = []
                while self.peek() != ")":
                    row.append(cell())
                self.next()
                if len(row) != len(names):
                    raise ValueError("sparql: VALUES row arity mismatch")
                rows.append(tuple(row))
            self.expect("}")
            return names, rows
        v = self.next()
        if not v.startswith("?"):
            raise ValueError(f"sparql: VALUES expects a ?var, got {v!r}")
        self.expect("{")
        rows = []
        while self.peek() != "}":
            rows.append((cell(),))
        self.next()
        return [v[1:]], rows

    @staticmethod
    def _merge(g: Group, sub: Group) -> None:
        g.patterns.extend(sub.patterns)
        g.optionals.extend(sub.optionals)
        g.unions.extend(sub.unions)
        g.filters.extend(sub.filters)
        g.binds.extend(sub.binds)
        g.exists.extend(sub.exists)
        g.minuses.extend(sub.minuses)
        g.values.extend(sub.values)
        g.subselects.extend(sub.subselects)

    def _filter_tokens(self) -> list[str]:
        """Collect the parenthesized token list of a FILTER/BIND,
        expanding pnames to ``<iri>`` tokens so downstream compilation
        needs no prefix table."""
        self.expect("(")
        depth, toks = 1, []
        while depth:
            t = self.next()
            if t == "(":
                depth += 1
            elif t == ")":
                depth -= 1
                if not depth:
                    break
            if (":" in t and not t.startswith(("?", '"', "<"))
                    and not _NUM_RE.fullmatch(t)):
                t = "<" + self._expand_pname(t) + ">"
            toks.append(t)
        return toks


def parse_sparql(q: str) -> Query:
    return _Parser(_tokenize(q)).parse()


# ---------------------------------------------------------------------------
# FILTER / BIND / HAVING expression compilation (token list -> Column)

# SPARQL function -> (Column function, least and most arguments)
_FUNCS = {"strstarts": (F.startswith, 2, 2), "strends": (F.endswith, 2, 2),
          "contains": (F.contains, 2, 2), "regex": (F.regexp, 2, 2),
          "sameterm": (Column.eqNullSafe, 2, 2),
          "lcase": (F.lower, 1, 1), "ucase": (F.upper, 1, 1),
          "strlen": (F.length, 1, 1),
          "concat": (F.concat, 1, None), "coalesce": (F.coalesce, 1, None),
          "substr": (F.substr, 2, 3),           # 1-based, like SQL's
          "replace": (F.regexp_replace, 3, 3)}  # regex-based
_CMP_OPS = {"=": operator.eq, "!=": operator.ne, "<": operator.lt,
            "<=": operator.le, ">": operator.gt, ">=": operator.ge}
_ARITH_OPS = {"+": operator.add, "-": operator.sub, "*": operator.mul,
              "/": operator.truediv}
_XSD = "http://www.w3.org/2001/XMLSchema#"
_XSD_CASTS = {"integer": "bigint", "int": "bigint", "long": "bigint",
              "short": "bigint", "byte": "bigint",
              "nonNegativeInteger": "bigint",
              "decimal": "double", "double": "double", "float": "double",
              "string": "string", "boolean": "boolean",
              "date": "date", "dateTime": "timestamp"}


def _among(c: Column, cols: list[Column]) -> bool:
    return any(c is x for x in cols)


class _ExprCompiler(_Cursor):
    """Recursive-descent compiler for the FILTER/BIND/HAVING expression
    subset to a ``Column``.  Literals become ``F.lit`` values, so no
    query text is ever parsed as Spark SQL.  Numeric tokens keep the
    types Spark's SQL parser gives them: an integer is an int literal,
    a decimal token a DECIMAL.

    Numbers: a string-valued variable that is an operand of ``+ - * /``,
    or compared with a numeric operand (a number, arithmetic, a numeric
    ``xsd:`` cast, STRLEN or a numeric variable), is read with
    ``try_cast(... AS DOUBLE)``.  A value that does not parse is NULL,
    so the FILTER is false or the BIND variable unbound."""
    _END = "FILTER expression"
    _EXPECTED = "FILTER expected"

    def __init__(self, toks: list[str], cols: dict[str, DataType]):
        super().__init__(toks)
        self.cols = cols
        self.numbers: list[Column] = []   # numeric operands
        self.strings: list[Column] = []   # string-valued variables

    def _number(self, c: Column) -> Column:
        self.numbers.append(c)
        return c

    def _as_number(self, c: Column) -> Column:
        return c.try_cast("double") if _among(c, self.strings) else c

    def compile(self) -> Column:
        out = self.or_expr()
        if self.peek() is not None:
            raise ValueError(
                f"sparql: trailing FILTER token {self.peek()!r}")
        return out

    def or_expr(self) -> Column:
        out = self.and_expr()
        while self.peek() == "||":
            self.next()
            out = out | self.and_expr()
        return out

    def and_expr(self) -> Column:
        out = self.not_expr()
        while self.peek() == "&&":
            self.next()
            out = out & self.not_expr()
        return out

    def not_expr(self) -> Column:
        if self.peek() == "!":
            self.next()
            return ~self.not_expr()
        return self.rel_expr()

    def rel_expr(self) -> Column:
        left = self.add_expr()
        t = self.peek()
        if t in _CMP_OPS:
            self.next()
            right = self.add_expr()
            if _among(right, self.numbers):
                left = self._as_number(left)
            if _among(left, self.numbers):
                right = self._as_number(right)
            return _CMP_OPS[t](left, right)
        if t is not None and t.upper() == "IN":
            self.next()
            items = self._args(1, None)
            if any(_among(c, self.numbers) for c in items):
                left = self._as_number(left)
            return left.isin(*items)
        return left

    def _arith(self, op: str, a: Column, b: Column) -> Column:
        return self._number(
            _ARITH_OPS[op](self._as_number(a), self._as_number(b)))

    def add_expr(self) -> Column:
        out = self.mul_expr()
        while True:
            t = self.peek()
            if t in ("+", "-"):
                self.next()
                out = self._arith(t, out, self.mul_expr())
            elif t is not None and t[0] == "-" and _NUM_RE.fullmatch(t):
                # '10 -3' tokenizes the 3 as a negative number
                out = self._arith("-", out, self._num_lit(self.next()[1:]))
            else:
                return out

    def mul_expr(self) -> Column:
        out = self.value()
        while self.peek() in ("*", "/"):
            op = self.next()
            out = self._arith(op, out, self.value())
        return out

    def _num_lit(self, t: str) -> Column:
        return self._number(F.lit(Decimal(t) if "." in t else int(t)))

    def _var_col(self, t: str, prefix: str = "") -> Column:
        v = t[1:]
        if v not in self.cols:
            raise ValueError(f"sparql: FILTER on unbound ?{v}")
        if prefix:                      # a shadow column of the variable
            if prefix + v not in self.cols:
                what = ("obj_is_uri (isURI/isLiteral)" if prefix == _SHADOW
                        else "obj_lang (lang/langMatches)")
                raise ValueError(
                    f"sparql: {what} needs its column in the triples "
                    f"DataFrame (missing for ?{v})")
            return F.col(prefix + v)
        c = F.col(v)
        if isinstance(self.cols[v], NumericType):
            self.numbers.append(c)
        elif isinstance(self.cols[v], StringType):
            self.strings.append(c)
        return c

    def value(self) -> Column:
        t = self.next()
        low = t.lower()
        if t == "(":
            inner = self.or_expr()
            self.expect(")")
            return inner
        if t.startswith("?"):
            return self._var_col(t)
        if t.startswith('"'):
            return F.lit(_unescape(t))
        if t.startswith("<"):
            iri = t[1:-1]
            # xsd constructor casts: try_cast, so a SPARQL type error
            # yields NULL (filter-false) instead of an ANSI runtime
            # abort on dirty data
            if iri.startswith(_XSD) and self.peek() == "(":
                typ = _XSD_CASTS.get(iri[len(_XSD):])
                if typ is None:
                    raise ValueError(
                        f"sparql: unsupported xsd cast {iri!r}")
                arg, = self._args(1, 1)
                out = arg.try_cast(typ)
                return self._number(out) if typ in ("bigint", "double") \
                    else out
            # otherwise IRIs are plain string terms
            return F.lit(iri)
        if _NUM_RE.fullmatch(t):
            return self._num_lit(t)
        if low == "bound":
            self.expect("(")
            v = self._var_col(self.next())
            self.expect(")")
            return v.isNotNull()
        if low in ("str", "iri", "uri"):
            # terms are stored as plain strings; IRI() is the identity
            arg, = self._args(1, 1)
            return arg.cast("string")
        if low == "isblank":
            # the engine's triple tables carry no blank nodes (the
            # reference skolemizes on distill)
            self._args(1, 1)
            return F.lit(False)
        if low in ("isuri", "isiri", "isliteral"):
            self.expect("(")
            vt = self.next()
            is_uri = F.coalesce(self._var_col(vt, _SHADOW), F.lit(False))
            self.expect(")")
            if low == "isliteral":
                return self._var_col(vt).isNotNull() & ~is_uri
            return is_uri
        if low == "lang":
            # SPARQL lang() returns "" for plain literals and IRIs
            self.expect("(")
            sh = self._var_col(self.next(), _LANG_SHADOW)
            self.expect(")")
            return F.coalesce(sh, F.lit(""))
        if low == "langmatches":
            # RFC 4647 basic filtering: '*' = any non-empty tag,
            # otherwise exact primary tag or 'tag-' prefix
            self.expect("(")
            rng = self.or_expr()
            self.expect(",")
            tag = self.next()
            if not tag.startswith('"'):
                raise ValueError(
                    "sparql: langMatches needs a literal range")
            self.expect(")")
            t = _unescape(tag).lower()
            if t == "*":
                return rng != F.lit("")
            return ((F.lower(rng) == F.lit(t))
                    | F.startswith(F.lower(rng), F.lit(t + "-")))
        if low in _FUNCS:
            fn, lo, hi = _FUNCS[low]
            out = fn(*self._args(lo, hi))
            return self._number(out) if low == "strlen" else out
        if low == "if":
            c, a, b = self._args(3, 3)
            return F.when(c, a).otherwise(b)
        if low in ("strbefore", "strafter"):
            a, b = self._args(2, 2)
            pos = F.instr(a, b)
            part = (F.substr(a, F.lit(1), pos - 1) if low == "strbefore"
                    else F.substr(a, pos + F.length(b)))
            # '' when the needle does not occur, per spec
            return F.when(pos > 0, part).otherwise(F.lit(""))
        raise ValueError(f"sparql: unsupported FILTER token {t!r}")

    def _args(self, lo: int, hi: int | None) -> list[Column]:
        self.expect("(")
        args = [self.or_expr()]
        while self.peek() == ",":
            self.next()
            args.append(self.or_expr())
        self.expect(")")
        if len(args) < lo or (hi is not None and len(args) > hi):
            raise ValueError(
                f"sparql: wrong argument count ({len(args)})")
        return args


def _compile_expr(toks: list[str], df: DataFrame) -> Column:
    return _ExprCompiler(toks, {f.name: f.dataType
                                for f in df.schema}).compile()


def _uses_shadows(g: Group) -> frozenset:
    """Which shadow-column kinds ('isuri', 'lang') do the FILTER/BIND
    expressions in this group tree need?"""
    kinds = set()
    for toks in g.filters + [b[0] for b in g.binds]:
        for t in toks:
            low = t.lower()
            if low in ("isuri", "isiri", "isliteral"):
                kinds.add("isuri")
            elif low in ("lang", "langmatches"):
                kinds.add("lang")
    for sub in (g.optionals + g.minuses + [e[1] for e in g.exists]
                + [b for bs in g.unions for b in bs]
                + [q.where for q in g.subselects]):
        kinds |= _uses_shadows(sub)
    return frozenset(kinds)


# ---------------------------------------------------------------------------
# compilation

def _pattern_df(triples: DataFrame, pat: Pattern,
                kinds: frozenset) -> tuple[DataFrame, int]:
    """One triple pattern -> (projected scan keyed by its variable
    columns, n_bound_constants).  Constants become pushdown filters.
    Each requested shadow kind adds a per-var column: ``__isuri__v``
    (True for subj/pred bindings — always IRIs in RDF — else the
    table's obj_is_uri flag) and ``__lang__v`` (obj_lang for obj
    bindings, NULL otherwise)."""
    if pat.p.kind == "path":
        return _path_pattern_df(triples, pat, kinds)
    df = triples
    n_bound = 0
    sel: dict[str, str] = {}  # var -> source column
    for term, col in ((pat.s, "subj"), (pat.p, "pred"), (pat.o, "obj")):
        if term.kind == "var":
            if term.value in sel:   # e.g. ?x ?p ?x — self-reference
                df = df.where(F.col(col) == F.col(sel[term.value]))
            else:
                sel[term.value] = col
        else:
            df = (where_pred(df, term.value) if col == "pred"
                  else df.where(F.col(col) == term.value))
            n_bound += 1
    cols = [F.col(c).alias(v) for v, c in sel.items()]
    for v, c in sel.items():
        if "isuri" in kinds:
            cols.append((F.col("obj_is_uri") if c == "obj"
                         else F.lit(True)).alias(_SHADOW + v))
        if "lang" in kinds:
            cols.append((F.col("obj_lang") if c == "obj"
                         else F.lit(None).cast("string"))
                        .alias(_LANG_SHADOW + v))
    return df.select(*cols), n_bound


# Rounds a closure may take.  A walk still finding new pairs after this
# many rounds raises instead of returning a subset of the closure.
_CLOSURE_MAX_ROUNDS = 64

_CONSTRAINTS = "spark.sql.constraintPropagation.enabled"


def _materialize(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint()``, built with constraint propagation off.

    Spark 4.1's checkpoint keeps the constraints the optimizer inferred
    for ``df`` under the optimized plan's attribute ids, which differ
    from the checkpoint's own once an alias is dropped as redundant.  A
    later union or self-join of such checkpoints then fails in
    constraint inference (``NoSuchElementException: key not found``).
    Built without constraints, the checkpoint carries none.  The switch
    is session-wide while the checkpoint job runs."""
    conf = df.sparkSession.conf
    old = conf.get(_CONSTRAINTS)
    conf.set(_CONSTRAINTS, "false")
    try:
        return df.localCheckpoint()
    finally:
        conf.set(_CONSTRAINTS, old)


def _closure(edges: DataFrame, lo: int, hi: int | None,
             s0: str | None = None, o0: str | None = None) -> DataFrame:
    """The (_s, _o) pairs joined by a path of ``lo``..``hi`` edges
    (``hi`` None: unbounded), computed exactly.

    Each round extends the frontier by one edge, drops duplicates and
    materializes the result (``_materialize``); the walk ends when
    the frontier is empty.  Once paths reach length ``lo``, an
    unbounded walk keeps only pairs not found before (semi-naive), so
    it ends on cyclic graphs too; a bounded one stops after ``hi``
    rounds.  A constant subject ``s0`` (else object ``o0``) seeds the
    walk, which then only visits what that node reaches.  Zero-length
    paths pair a constant endpoint with itself, else every node of the
    edge set with itself."""
    if hi is None or hi > 1:      # more than one round reads the edges
        edges = _materialize(edges)
    backward = s0 is None and o0 is not None
    frontier = (edges.where(F.col("_s") == s0) if s0 is not None
                else edges.where(F.col("_o") == o0) if backward
                else edges)
    out, length = None, 1
    for _ in range(_CLOSURE_MAX_ROUNDS):
        if hi is not None and length > hi:      # {0,0}
            break
        if length >= lo:
            out = frontier if out is None else out.unionByName(frontier)
        if length == hi:
            break
        f, e = frontier.alias("f"), edges.alias("e")
        frontier = (f.join(e, F.col("e._o") == F.col("f._s"))
                    .select(F.col("e._s").alias("_s"),
                            F.col("f._o").alias("_o"))
                    if backward else
                    f.join(e, F.col("f._o") == F.col("e._s"))
                    .select(F.col("f._s").alias("_s"),
                            F.col("e._o").alias("_o"))).dropDuplicates()
        if hi is None and length >= lo:
            frontier = frontier.join(out, ["_s", "_o"], "left_anti")
        frontier = _materialize(frontier)
        length += 1
        if frontier.isEmpty():
            break
    else:
        raise RuntimeError(
            f"sparql: a property path closure found new pairs after "
            f"{_CLOSURE_MAX_ROUNDS} rounds (_CLOSURE_MAX_ROUNDS); the "
            f"graph has longer paths than the cap")
    if lo == 0:
        node = s0 if s0 is not None else o0
        if node is not None:
            zero = edges.sparkSession.createDataFrame(
                [(node, node)], "_s string, _o string")
        else:
            nodes = (edges.select(F.col("_s").alias("n"))
                     .unionByName(edges.select(F.col("_o").alias("n"))))
            zero = nodes.select(F.col("n").alias("_s"),
                                F.col("n").alias("_o"))
        out = zero if out is None else out.unionByName(zero)
    if out is None:
        return edges.where(F.lit(False))
    return out.dropDuplicates()


def _elt_edges(triples: DataFrame, elt: PathElt, s0: str | None = None,
               o0: str | None = None) -> DataFrame:
    """One path element -> its (_s, _o) edge DataFrame.  ``s0``/``o0``
    are the pattern's constant endpoints when this element is the whole
    path: a closure starts its walk there."""
    if elt.inverse:
        s0, o0 = o0, s0
    if elt.neg is not None:
        base = (triples.where(~F.col("pred").isin(elt.neg))
                .select(F.col("subj").alias("_s"),
                        F.col("obj").alias("_o"))
                .dropDuplicates())
    elif elt.group is not None:
        base = (_alt_edges(triples, elt.group) if elt.quant is not None
                else _alt_edges(triples, elt.group, s0, o0))
    else:
        base = (where_pred(triples, elt.iri)
                .select(F.col("subj").alias("_s"),
                        F.col("obj").alias("_o"))
                .dropDuplicates())
    if elt.quant is not None:
        base = _closure(base, *elt.quant, s0, o0)
    if elt.inverse:
        base = base.select(F.col("_o").alias("_s"),
                           F.col("_s").alias("_o"))
    return base


def _alt_edges(triples: DataFrame, alt: PathAlt, s0: str | None = None,
               o0: str | None = None) -> DataFrame:
    """A path expression -> its (_s, _o) edge DataFrame: sequences are
    chained joins (_o -> _s), alternatives union, and the result is a
    set.  An alternation of plain forward predicates collapses to ONE
    isin-filtered scan instead of per-branch scans + union.  A sole
    element gets the constant endpoints (see ``_elt_edges``)."""
    if len(alt.seqs) == 1 and len(alt.seqs[0].elts) == 1:
        return _elt_edges(triples, alt.seqs[0].elts[0], s0, o0)
    plain = [s.elts[0].iri for s in alt.seqs
             if len(s.elts) == 1 and s.elts[0].iri is not None
             and not s.elts[0].inverse and s.elts[0].quant is None]
    if len(plain) == len(alt.seqs):
        return (where_pred(triples, *plain)
                .select(F.col("subj").alias("_s"),
                        F.col("obj").alias("_o"))
                .dropDuplicates())
    seq_dfs = []
    for seq in alt.seqs:
        df = None
        for elt in seq.elts:
            e = _elt_edges(triples, elt)
            df = e if df is None else (
                df.alias("l")
                .join(e.alias("r"), F.col("l._o") == F.col("r._s"))
                .select(F.col("l._s").alias("_s"),
                        F.col("r._o").alias("_o")))
        seq_dfs.append(df)
    out = seq_dfs[0]
    for d in seq_dfs[1:]:
        out = out.unionByName(d)
    return out.dropDuplicates()


def _path_pattern_df(triples: DataFrame, pat: Pattern, kinds: frozenset,
                     ) -> tuple[DataFrame, int]:
    """A pattern whose predicate is a path expression: compile the
    expression to an edge set, then bind the endpoints."""
    s0 = None if pat.s.kind == "var" else pat.s.value
    o0 = None if pat.o.kind == "var" else pat.o.value
    df = _alt_edges(triples, pat.p.value, s0, o0)
    n_bound = 0
    sel: dict[str, str] = {}
    for term, col in ((pat.s, "_s"), (pat.o, "_o")):
        if term.kind == "var":
            if term.value in sel:
                df = df.where(F.col(col) == F.col(sel[term.value]))
            else:
                sel[term.value] = col
        else:
            df = df.where(F.col(col) == term.value)
            n_bound += 1
    cols = [F.col(c).alias(v) for v, c in sel.items()]
    if "isuri" in kinds:
        cols += [F.lit(True).alias(_SHADOW + v) for v in sel]
    if "lang" in kinds:
        cols += [F.lit(None).cast("string").alias(_LANG_SHADOW + v)
                 for v in sel]
    return df.select(*cols), n_bound


def _var_cols(cols) -> list[str]:
    return [c for c in cols if not _is_shadow(c)]


def _join(sol: tuple | None, other: tuple, how: str = "inner") -> tuple:
    """Join two solution frames, each a (DataFrame, maybe-NULL vars)
    pair (``sol`` None: ``other`` is the group's first frame), by
    SPARQL's rule that an unbound (NULL) variable is compatible with
    any value (SPARQL 1.1 §18.3).  ``how``: inner, left, left_semi,
    left_anti or minus, a left_anti that also needs a shared variable
    bound on both sides (§18.5).  Always-bound shared variables are a
    plain equi-join (none shared: no condition); a maybe-NULL one joins
    on ``l.v <=> r.v OR l.v IS NULL OR r.v IS NULL`` and is taken, with
    its shadow columns, from the side that bound it."""
    if sol is None:
        return other
    (left, lnull), (right, rnull) = sol, other
    lvars, rvars = set(_var_cols(left.columns)), set(_var_cols(right.columns))
    shared = [c for c in _var_cols(right.columns) if c in lvars]
    loose = [v for v in shared if v in lnull or v in rnull]
    minus = how == "minus"
    if minus and not shared:
        return sol
    how = "left_anti" if minus else how
    if how.startswith("left_"):
        right, nulls = right.select(*shared).dropDuplicates(), lnull
    else:
        nulls = lnull | (rvars - lvars) if how == "left" else \
            (lnull - rvars) | (rnull - lvars) | (lnull & rnull)
    if not loose:
        right = right.drop(*[c for c in right.columns
                             if _is_shadow(c) and c in left.columns])
        return left.join(right, on=shared or None, how=how), nulls
    dup = {c: "__r" + c for c in right.columns if c in left.columns}
    right = right.withColumnsRenamed(dup)
    lv, rv = F.col, lambda c: F.col(dup[c])
    cond = [lv(v) == rv(v) for v in shared if v not in loose] + [
        lv(v).eqNullSafe(rv(v)) | lv(v).isNull() | rv(v).isNull()
        for v in loose]
    if minus:
        cond.append(functools.reduce(operator.or_, (
            lv(v).isNotNull() & rv(v).isNotNull() for v in shared)))
    out = left.join(right, functools.reduce(operator.and_, cond), how)
    if how.startswith("left_"):
        return out, nulls
    pick = {c: F.when(lv(v).isNotNull(), lv(c)).otherwise(rv(c))
            for v in loose for c in (v, _SHADOW + v, _LANG_SHADOW + v)
            if c in dup}
    return out.select(*[pick.get(c, lv(c)).alias(c) for c in left.columns],
                      *[c for c in right.columns if c not in dup.values()]
                      ), nulls


def _join_patterns(triples: DataFrame, pats: list[Pattern],
                   kinds: frozenset) -> tuple | None:
    if not pats:
        return None
    scans = [_pattern_df(triples, p, kinds) for p in pats]
    # selectivity-ordered greedy join: start from the most
    # constant-bound scan, always extend with a scan sharing a variable
    order = sorted(range(len(scans)), key=lambda i: -scans[i][1])
    sol = (scans[order.pop(0)][0], frozenset())   # no var is ever NULL
    while order:
        pick = next((i for i in order if set(_var_cols(scans[i][0].columns))
                     & set(sol[0].columns)), order[0])
        order.remove(pick)
        df, n_bound = scans[pick]
        # a 2+-constant pattern is a needle => broadcast it
        sol = _join(sol, (F.broadcast(df) if n_bound >= 2 else df,
                          frozenset()))
    return sol


def _null_pad(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        if c not in df.columns:
            typ = "boolean" if c.startswith(_SHADOW) else "string"
            df = df.withColumn(c, F.lit(None).cast(typ))
    return df.select(*cols)


def _apply_bind(sol: DataFrame, toks: list[str], var: str,
                kinds: frozenset) -> DataFrame:
    if var in sol.columns:
        raise ValueError(f"sparql: BIND would rebind ?{var}")
    if len(toks) == 1 and toks[0].startswith("?"):   # alias a variable
        src = toks[0][1:]
        if src not in sol.columns:
            raise ValueError(f"sparql: BIND of unbound ?{src}")
        sol = sol.withColumn(var, F.col(src))
        for kind, prefix, typ in (("isuri", _SHADOW, "boolean"),
                                  ("lang", _LANG_SHADOW, "string")):
            if kind in kinds:
                sh = prefix + src
                sol = sol.withColumn(
                    prefix + var,
                    F.col(sh) if sh in sol.columns
                    else F.lit(None).cast(typ))
        return sol
    sol = sol.withColumn(var, _compile_expr(toks, sol))
    if "isuri" in kinds:
        # a computed value is a literal unless it is a single IRI
        # token or an IRI()/URI() constructor call
        is_iri = (len(toks) == 1 and toks[0].startswith("<")) \
            or toks[0].lower() in ("iri", "uri")
        sol = sol.withColumn(_SHADOW + var, F.lit(bool(is_iri)))
    if "lang" in kinds:   # computed values carry no language tag
        sol = sol.withColumn(_LANG_SHADOW + var,
                             F.lit(None).cast("string"))
    return sol


def _with_shadows(names, df: DataFrame) -> list[str]:
    """Each variable of ``names`` followed by the shadow columns ``df``
    has for it."""
    return [c for v in names
            for c in (v, *(p + v for p in _SHADOW_PREFIXES
                           if p + v in df.columns))]


def _select_result(sol: DataFrame, ast: Query) -> DataFrame:
    """Solution -> SELECT result: aggregates, HAVING, projection,
    DISTINCT, ORDER/OFFSET/LIMIT.  A projected variable keeps the
    shadow columns ``sol`` has for it: a subquery's result feeds the
    outer group's isURI/isLiteral/lang (``sparql_query`` drops them
    from the top-level solution first)."""
    if ast.aggs:
        exprs = []
        for a in ast.aggs:
            if a.func == "count":
                if a.var is None:
                    e = F.count(F.lit(1))
                elif a.distinct:
                    e = F.count_distinct(F.col(a.var))
                else:
                    e = F.count(F.col(a.var))
                e = e.cast("long")
            elif a.func == "sample":
                if a.distinct:
                    raise ValueError(
                        "sparql: DISTINCT SAMPLE is meaningless")
                e = F.first(F.col(a.var), ignorenulls=True)
            elif a.func == "group_concat":
                # SPARQL leaves the order unspecified; sort for a
                # deterministic (and oracle-comparable) result
                vals = F.collect_set(F.col(a.var)) if a.distinct \
                    else F.collect_list(F.col(a.var))
                e = F.array_join(F.array_sort(vals), a.sep)
            else:
                if a.distinct:
                    raise ValueError(
                        "sparql: DISTINCT only supported in COUNT/"
                        "GROUP_CONCAT")
                e = getattr(F, a.func)(F.col(a.var))
            exprs.append(e.alias(a.alias))
        # a GROUP BY variable groups with its shadow columns, so a URI
        # and an equal-string literal stay apart, as in SPARQL
        out = sol.groupBy(*_with_shadows(ast.group_by, sol)).agg(*exprs)
        for htoks in ast.having:
            out = out.where(_compile_expr(htoks, out))
        out = out.select(*_with_shadows(ast.select_vars, out),
                         *[a.alias for a in ast.aggs])
    else:
        out = sol.select(*_with_shadows(
            ast.select_vars or sorted(_var_cols(sol.columns)), sol))
        if ast.distinct:
            out = out.dropDuplicates()
    if ast.order_by:
        out = out.orderBy(*[F.col(v).asc() if asc else F.col(v).desc()
                            for v, asc in ast.order_by])
    if ast.offset:
        out = out.offset(ast.offset)
    if ast.limit is not None:
        out = out.limit(ast.limit)
    return out


def _compile_group(triples: DataFrame, g: Group,
                   kinds: frozenset) -> tuple | None:
    """A group -> its solution frame (DataFrame, maybe-NULL vars), or
    None when empty.  Pattern and path variables are never NULL;
    OPTIONAL, UNION, BIND, VALUES UNDEF and subselects can leave some
    unbound."""
    sol = _join_patterns(triples, g.patterns, kinds)

    def needs_base(what: str) -> None:
        if sol is None:
            raise ValueError(f"sparql: {what} without a base pattern")

    for sq in g.subselects:
        inner = _compile_group(triples, sq.where, kinds)
        if inner is None:
            raise ValueError("sparql: empty subquery WHERE group")
        sdf = _select_result(inner[0], sq)
        nulls = inner[1] | {a.alias for a in sq.aggs if a.func != "count"}
        sol = _join(sol, (sdf, nulls & frozenset(sdf.columns)))
    for branches in g.unions:
        dfs = [_compile_group(triples, b, kinds) for b in branches]
        if any(d is None for d in dfs):
            raise ValueError("sparql: empty UNION branch")
        cols = sorted({c for d, _ in dfs for c in d.columns})
        sol = _join(sol, (
            functools.reduce(DataFrame.unionByName,
                             [_null_pad(d, cols) for d, _ in dfs]),
            frozenset(v for v in _var_cols(cols)
                      if any(v in n or v not in d.columns for d, n in dfs))))
    for opt in g.optionals:
        needs_base("OPTIONAL")
        odf = _compile_group(triples, opt, kinds)
        if odf is not None:
            sol = _join(sol, odf, "left")
    for names, rows in g.values:
        vdf = triples.sparkSession.createDataFrame(
            rows, StructType([StructField(n, StringType()) for n in names]))
        # an inline table is tiny by construction => broadcast
        sol = _join(sol, (F.broadcast(vdf), frozenset(
            n for n, col in zip(names, zip(*rows)) if None in col)))
    for toks, var in g.binds:
        needs_base("BIND")
        sol = (_apply_bind(sol[0], toks, var, kinds), sol[1] | {var})
    for positive, eg in g.exists:
        needs_base("EXISTS")
        sol = _join(sol, _compile_group(triples, eg, kinds),
                    "left_semi" if positive else "left_anti")
    for mg in g.minuses:
        needs_base("MINUS")
        sol = _join(sol, _compile_group(triples, mg, kinds), "minus")
    for ftoks in g.filters:
        sol = (sol[0].where(_compile_expr(ftoks, sol[0])), sol[1])
    return sol


def sparql_query(triples: DataFrame, query: str) -> DataFrame:
    """Run a SPARQL query (see module docstring for the subset) against
    a (subj, pred, obj[, obj_is_uri], ...) triples DataFrame.

    SELECT -> one column per selected variable.
    CONSTRUCT -> (subj, pred, obj) rows, template-instantiated per
    solution, deduplicated (a CONSTRUCT result is a GRAPH — set
    semantics, like the reference's rdflib Graph result)."""
    ast = parse_sparql(query)
    kinds = _uses_shadows(ast.where)
    base = ["subj", "pred", "obj"]
    need = list(base)
    for kind, col in (("isuri", "obj_is_uri"), ("lang", "obj_lang")):
        if kind in kinds:
            if col not in triples.columns:
                raise ValueError(
                    f"sparql: this query needs the {col} column in the "
                    "triples DataFrame (operators/triples.py TRIPLES_COLS)")
            need.append(col)
    if "pred_bucket" in triples.columns:   # lets scans prune partitions
        need.append("pred_bucket")
    t = triples.select(*need)
    if ast.form == "describe":
        # all triples where the target is subject, plus inbound edges;
        # variable targets ("?"-prefixed) take their values from the
        # WHERE solution via semi joins — never a driver collect
        uris = [v for v in ast.select_vars if not v.startswith("?")]
        dvars = [v[1:] for v in ast.select_vars if v.startswith("?")]
        tt = t.select(*base)
        out = None
        if uris:
            out = tt.where(F.col("subj").isin(uris)
                           | F.col("obj").isin(uris))
        if dvars:
            sol = _compile_group(t, ast.where, kinds)
            if sol is None:
                raise ValueError("sparql: empty DESCRIBE WHERE group")
            sol = sol[0]
            nodes = None
            for v in dvars:
                nv = sol.select(F.col(v).alias("__n")).dropDuplicates()
                nodes = nv if nodes is None \
                    else nodes.unionByName(nv).dropDuplicates()
            hits = (tt.join(nodes, tt.subj == F.col("__n"), "leftsemi")
                    .unionByName(
                        tt.join(nodes, tt.obj == F.col("__n"),
                                "leftsemi")))
            out = hits if out is None else out.unionByName(hits)
        if out is None:
            raise ValueError("sparql: DESCRIBE needs at least one target")
        return out.dropDuplicates()
    sol = _compile_group(t, ast.where, kinds)
    if sol is None:
        raise ValueError("sparql: empty WHERE group")
    sol = sol[0]
    if ast.form == "ask":
        return (sol.limit(1)
                .agg(F.count(F.lit(1)).alias("n"))
                .select((F.col("n") > 0).alias("answer")))
    if ast.form == "select":
        return _select_result(sol.select(*_var_cols(sol.columns)), ast)
    # CONSTRUCT: one branch per template pattern
    branches = []
    for pat in ast.template:
        cols = []
        for term, name in ((pat.s, "subj"), (pat.p, "pred"),
                           (pat.o, "obj")):
            if term.kind == "var":
                if term.value not in sol.columns:
                    raise ValueError(
                        f"sparql: CONSTRUCT var ?{term.value} unbound")
                cols.append(F.col(term.value).alias(name))
            else:
                cols.append(F.lit(term.value).alias(name))
        branches.append(sol.select(*cols))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    # a constructed graph is a set of triples; template slots bound to
    # NULL (e.g. from an OPTIONAL) produce no triple, as in SPARQL
    return (out.where(F.col("subj").isNotNull()
                      & F.col("pred").isNotNull()
                      & F.col("obj").isNotNull())
            .dropDuplicates())
