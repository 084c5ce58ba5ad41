"""Differential gate for the SPARQL compiler (operators/sparql.py):
an INDEPENDENT naive evaluator (nested-loop enumeration over the
triple list, no Spark, no shared code) must agree with the compiled
DataFrame plan on randomized graphs and a pool of query shapes.

The naive evaluator implements the same algebra the compiler's module
docstring specifies (patterns joined on shared vars -> subqueries
joined in -> UNION branches joined in -> OPTIONALs left-joined ->
VALUES joined in -> EXISTS -> MINUS -> FILTERs), with bag semantics
and SPARQL's compatibility rule (an unbound variable is compatible
with any value) — the same twin strategy the repo uses for the scalar
function library (tests/test_scalars.py)."""

import itertools
import random
import re

import pytest

from ferenda_spark.operators.sparql import parse_sparql, sparql_query

DCT = "http://purl.org/dc/terms/"


# ---------------------------------------------------------------------------
# naive evaluator (pure Python, written against the SPARQL spec subset —
# intentionally shares NO code with the compiler)

def _naive_closure(edges, lo, hi, ends=()):
    """Pairs joined by a walk of lo..hi edges (hi None: unbounded).
    Zero-length walks pair each constant endpoint in ``ends`` with
    itself, or, without one, each node of the edge set.  Walks are
    enumerated by length until the length-k pair sets repeat."""
    zero = {(c, c) for c in ends} or {(n, n) for e in edges for n in e}
    out = set(zero) if lo == 0 else set()
    level, seen, length = set(edges), set(), 1
    while hi is None or length <= hi:
        if length >= lo:
            if frozenset(level) in seen:
                break
            seen.add(frozenset(level))
            out |= level
        level = {(a, d) for (a, b) in level for (c, d) in edges if b == c}
        length += 1
    return out


def _naive_elt_edges(triples, elt, ends=()):
    if elt.neg is not None:
        base = {(s, o) for (s, p, o) in triples if p not in elt.neg}
    elif elt.group is not None:
        base = _naive_alt_edges(triples, elt.group,
                                () if elt.quant else ends)
    else:
        base = {(s, o) for (s, p, o) in triples if p == elt.iri}
    if elt.inverse:
        base = {(o, s) for (s, o) in base}
    if elt.quant is not None:
        base = _naive_closure(base, *elt.quant, ends)
    return base


def _naive_alt_edges(triples, alt, ends=()):
    """``ends``: the pattern's constant endpoints, which only the sole
    element of a path sees."""
    if len(alt.seqs) == 1 and len(alt.seqs[0].elts) == 1:
        return _naive_elt_edges(triples, alt.seqs[0].elts[0], ends)
    out = set()
    for seq in alt.seqs:
        acc = None
        for elt in seq.elts:
            e = _naive_elt_edges(triples, elt)
            acc = e if acc is None else {
                (a, d) for (a, b) in acc for (c, d) in e if b == c}
        out |= acc
    return out


def _match_pattern(triples, pat, binding):
    """All extensions of ``binding`` by one solution of ``pat``."""
    out = []
    if pat.p.kind == "path":
        ends = [t.value for t in (pat.s, pat.o) if t.kind != "var"]
        pairs = _naive_alt_edges(triples, pat.p.value, ends)
        cands = [((s, o), ((pat.s, s), (pat.o, o)))
                 for (s, o) in sorted(pairs)]
    else:
        cands = [((s, p, o),
                  ((pat.s, s), (pat.p, p), (pat.o, o)))
                 for (s, p, o) in triples]
    for _, pairs in cands:
        b = dict(binding)
        ok = True
        for term, val in pairs:
            if term.kind == "var":
                if term.value in b and b[term.value] != val:
                    ok = False
                    break
                b[term.value] = val
            elif term.value != val:
                ok = False
                break
        if ok:
            out.append(b)
    return out


def _eval_bgp(triples, patterns, bindings):
    for pat in patterns:
        nxt = []
        for b in bindings:
            nxt.extend(_match_pattern(triples, pat, b))
        bindings = nxt
    return bindings


def _compatible(lb, rb):
    """SPARQL 1.1 §18.3: a variable bound (not None) on both sides has
    the same value on both; an unbound one is compatible with any."""
    return all(lb[k] == rb[k] for k in lb.keys() & rb.keys()
               if lb[k] is not None and rb[k] is not None)


def _merge(lb, rb):
    m = dict(lb)
    m.update({k: v for k, v in rb.items() if v is not None})
    return m


def _bound(b):
    return {k for k, v in b.items() if v is not None}


def _join(left, right):
    return [_merge(lb, rb) for lb in left for rb in right
            if _compatible(lb, rb)]


def _left_join(left, right):
    out = []
    rvars = set().union(*(rb.keys() for rb in right)) if right else set()
    for lb in left:
        matches = [rb for rb in right if _compatible(lb, rb)]
        if matches:
            out.extend(_merge(lb, rb) for rb in matches)
        else:
            m = dict(lb)
            m.update({v: None for v in rvars - lb.keys()})
            out.append(m)
    return out


def _lit_value(tok):
    """A quoted literal token's value: the pool escapes only \\ and \"."""
    return re.sub(r'\\([\\"])', r"\1", tok[1:-1])


def _number(v):
    """A binding read as a number; None (a type error) if it is not."""
    try:
        return float(v)
    except (TypeError, ValueError):
        return None


def _is_iri(v):
    """The pool's graphs hold an IRI exactly where the value starts
    with http:// (``_agree`` flags obj_is_uri the same way)."""
    return v.startswith("http://")


def _eval_filter(toks, b):
    """Evaluate the tiny FILTER subset the fuzz pool uses:
    ?x = ?y | ?x != ?y | ?x = "lit" | ?x != "lit" | bound(?x) |
    isURI(?x) | regex(?x, "re") | ?x > number."""
    if toks[0].lower() == "bound":
        return b.get(toks[2][1:]) is not None
    if toks[0].lower() == "isuri":
        v = b.get(toks[2][1:])
        return v is not None and _is_iri(v)
    if toks[0].lower() == "regex":
        v = b.get(toks[2][1:])
        return v is not None and re.search(_lit_value(toks[4]), v) is not None
    if toks[1] == ">":
        # compared with a number, a string is read as one; a type
        # error makes the filter false
        v = _number(b.get(toks[0][1:]))
        return v is not None and v > float(toks[2])
    lhs = b.get(toks[0][1:])
    rhs = _lit_value(toks[2]) if toks[2].startswith('"') else \
        toks[2][1:-1] if toks[2].startswith("<") else b.get(toks[2][1:])
    if lhs is None or rhs is None:
        return False
    return (lhs == rhs) if toks[1] == "=" else (lhs != rhs)


def _eval_group(triples, g):
    sol = _eval_bgp(triples, g.patterns, [dict()]) if g.patterns else None
    for sq in g.subselects:
        ssol = _eval_select(triples, sq)
        sol = ssol if sol is None else _join(sol, ssol)
    for branches in g.unions:
        udf = []
        branch_sols = [_eval_group(triples, b) for b in branches]
        allvars = set().union(*(set().union(*(bb.keys() for bb in bs))
                                if bs else set() for bs in branch_sols))
        for bs in branch_sols:
            for b in bs:
                m = {v: b.get(v) for v in allvars}
                udf.append(m)
        sol = udf if sol is None else _join(sol, udf)
    for opt in g.optionals:
        osol = _eval_group(triples, opt)
        sol = _left_join(sol, osol)
    for names, rows in g.values:
        vsol = [dict(zip(names, r)) for r in rows]
        sol = _join(sol, vsol) if sol is not None else vsol
    for positive, eg in g.exists:
        # §18.6: EXISTS substitutes the solution's bound variables into
        # the pattern; for the pool's patterns that is "some inner
        # solution is compatible"
        esol = _eval_group(triples, eg)
        sol = [lb for lb in sol
               if any(_compatible(lb, rb) for rb in esol) == positive]
    for mg in g.minuses:
        # §18.5: drop a solution that some inner solution is compatible
        # with AND shares a bound variable with
        msol = _eval_group(triples, mg)
        sol = [lb for lb in sol
               if not any(_compatible(lb, rb) and _bound(lb) & _bound(rb)
                          for rb in msol)]
    for ftoks in g.filters:
        sol = [b for b in sol if _eval_filter(ftoks, b)]
    return sol


def _eval_select(triples, ast):
    """A SELECT's solutions projected to its variables; the pool's one
    aggregate is COUNT(*) per GROUP BY key."""
    sols = _eval_group(triples, ast.where)
    if ast.aggs:
        assert all(a.func == "count" and a.var is None for a in ast.aggs)
        counts = {}
        for b in sols:
            key = tuple(b.get(v) for v in ast.group_by)
            counts[key] = counts.get(key, 0) + 1
        sols = [{**dict(zip(ast.group_by, key)),
                 **{a.alias: n for a in ast.aggs}}
                for key, n in counts.items()]
    names = ast.select_vars + [a.alias for a in ast.aggs]
    rows = [tuple(b.get(v) for v in names) for b in sols]
    if ast.distinct:
        rows = list(set(rows))
    return [dict(zip(names, r)) for r in rows]


def naive_select(triples, query):
    ast = parse_sparql(query)
    rows = [tuple(b.values()) for b in _eval_select(triples, ast)]
    return sorted(rows, key=lambda r: tuple(x or "" for x in r))


# ---------------------------------------------------------------------------
# randomized graphs x query pool

SUBJECTS = ["http://e/a", "http://e/b", "http://e/c"]
PREDS = [DCT + "title", DCT + "isPartOf", DCT + "references"]
OBJS = ["X", "Y", "http://e/a", "http://e/b", "X1", "Y\\", "10", "3"]

QUERY_POOL = [
    # plain BGP joins
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o }""",
    """SELECT ?s ?t WHERE { ?s <%(p0)s> ?o . ?o <%(p1)s> ?t }""",
    """SELECT ?s WHERE { ?s <%(p0)s> "X" . ?s <%(p1)s> ?y }""",
    # shared-var self join
    """SELECT ?x ?y WHERE { ?x <%(p0)s> ?y . ?y <%(p0)s> ?x }""",
    # OPTIONAL null-pad
    """SELECT ?s ?t WHERE { ?s <%(p0)s> ?o .
       OPTIONAL { ?s <%(p1)s> ?t } }""",
    # OPTIONAL + bound filter
    """SELECT ?s WHERE { ?s <%(p0)s> ?o .
       OPTIONAL { ?s <%(p1)s> ?t } FILTER(bound(?t)) }""",
    # UNION with disjoint vars
    """SELECT ?a ?b WHERE {
       { ?x <%(p0)s> ?a } UNION { ?x <%(p1)s> ?b } }""",
    # UNION joined to a base pattern on the shared var
    """SELECT ?x ?v WHERE { ?x <%(p2)s> ?z .
       { ?x <%(p0)s> ?v } UNION { ?x <%(p1)s> ?v } }""",
    # equality / inequality filters
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o . FILTER(?o != "X") }""",
    """SELECT ?s WHERE { ?s <%(p0)s> ?o . ?s <%(p1)s> ?o }""",
    # DISTINCT projection
    """SELECT DISTINCT ?o WHERE { ?s <%(p0)s> ?o }""",
    # property paths: closures, sequence, inverse, alternation,
    # negated set, quantified group
    """SELECT ?x ?y WHERE { ?x <%(p1)s>* ?y }""",
    """SELECT ?x WHERE { ?x <%(p1)s>+ <http://e/a> }""",
    """SELECT ?x ?y WHERE { ?x <%(p0)s>/<%(p1)s> ?y }""",
    """SELECT ?x ?y WHERE { ?x ^<%(p0)s> ?y }""",
    """SELECT ?x ?y WHERE { ?x (<%(p0)s>|<%(p1)s>) ?y }""",
    """SELECT ?x ?y WHERE { ?x !(<%(p0)s>) ?y }""",
    """SELECT ?x ?y WHERE { ?x (<%(p0)s>|^<%(p1)s>)+ ?y }""",
    """SELECT ?x ?y WHERE { ?x <%(p0)s>?/<%(p1)s> ?y }""",
    """SELECT ?x ?y WHERE { ?x <%(p1)s>{2,} ?y }""",
    """SELECT ?y WHERE { <http://e/a> <%(p1)s>* ?y }""",
    # zero-length from a constant that is not in the graph
    """SELECT ?y WHERE { <http://e/zz> ^<%(p1)s>* ?y }""",
    # EXISTS / NOT EXISTS / MINUS / VALUES
    """SELECT ?s WHERE { ?s <%(p0)s> ?o .
       FILTER NOT EXISTS { ?s <%(p1)s> ?t } }""",
    """SELECT ?s WHERE { ?s <%(p0)s> ?o .
       FILTER EXISTS { ?s <%(p1)s> ?t } }""",
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o . MINUS { ?s <%(p1)s> "X" } }""",
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o .
       VALUES ?o { "X" "http://e/a" } }""",
    # backslash escapes: the pattern is the regex \d, and a literal
    # that ends in a backslash
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o . FILTER(regex(?o, "\\\\d")) }""",
    """SELECT ?s WHERE { ?s <%(p0)s> ?o . FILTER(?o = "Y\\\\") }""",
    # a numeric comparison over numeric and non-numeric strings
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o . FILTER(?o > 5) }""",
    # UNION branches binding different subsets of the outer pattern's
    # variables: an unbound one is compatible with any value
    """SELECT ?x ?z ?a WHERE { ?x <%(p2)s> ?z . { ?x <%(p0)s> ?z }
       UNION { ?x <%(p1)s> ?a } UNION { ?a <%(p0)s> ?z } }""",
    # VALUES with UNDEF cells
    """SELECT ?s ?o WHERE { ?s <%(p0)s> ?o .
       VALUES (?s ?o) { (UNDEF "X") (<http://e/a> UNDEF) } }""",
    # isURI over a variable that only a subquery binds
    """SELECT ?x ?v WHERE { ?x <%(p2)s> ?z
       { SELECT ?x ?v WHERE { ?x <%(p0)s> ?v } } FILTER(isURI(?v)) }""",
    # isURI over the GROUP BY variable of an aggregated subquery
    """SELECT ?x ?v ?n WHERE { ?x <%(p2)s> ?z
       { SELECT ?v (COUNT(*) AS ?n) WHERE { ?y <%(p0)s> ?v } GROUP BY ?v }
       FILTER(isURI(?v)) }""",
]


def _random_graph(rng, n):
    return sorted({(rng.choice(SUBJECTS), rng.choice(PREDS),
                    rng.choice(OBJS)) for _ in range(n)})


def _agree(spark, triples, q):
    df = spark.createDataFrame(
        [(s, p, o, _is_iri(o)) for s, p, o in triples],
        "subj string, pred string, obj string, obj_is_uri boolean")
    expected = naive_select(triples, q)
    got = sorted((tuple(r) for r in sparql_query(df, q).collect()),
                 key=lambda r: tuple(x or "" for x in r))
    assert got == expected, (
        f"query={q!r}\n got={got}\n expected={expected}\n graph={triples}")


@pytest.mark.parametrize("seed", range(8))
def test_compiler_agrees_with_naive_evaluator(spark, seed):
    rng = random.Random(seed)
    triples = _random_graph(rng, rng.randint(4, 12))
    perms = list(itertools.permutations(PREDS))
    p0, p1, p2 = perms[seed % len(perms)]
    for qt in QUERY_POOL:
        _agree(spark, triples, qt % {"p0": p0, "p1": p1, "p2": p2})


# A 13-edge isPartOf chain n0 <- n1 <- ... <- n13 with a cycle (n5 is
# also part of n13), deeper than any fixed unrolling of a closure would
# reach, plus a references edge and a title on the side.
ISPARTOF, REFS = DCT + "isPartOf", DCT + "references"
CHAIN = ([(f"http://e/n{i}", ISPARTOF, f"http://e/n{i - 1}")
          for i in range(1, 14)]
         + [("http://e/n5", ISPARTOF, "http://e/n13"),
            ("http://e/n13", REFS, "http://e/n2"),
            ("http://e/n0", DCT + "title", "X")])

CHAIN_POOL = [
    "SELECT ?x ?y WHERE { ?x <%(p)s>* ?y }",
    "SELECT ?x ?y WHERE { ?x <%(p)s>+ ?y }",
    "SELECT ?x WHERE { ?x <%(p)s>+ <http://e/n0> }",
    "SELECT ?x WHERE { ?x <%(p)s>* <http://e/n12> }",
    "SELECT ?y WHERE { <http://e/n13> <%(p)s>* ?y }",
    "SELECT ?y WHERE { <http://e/n1> <%(p)s>+ ?y }",
    "SELECT ?y WHERE { <http://e/n0> ^<%(p)s>+ ?y }",
    "SELECT ?x ?y WHERE { ?x <%(p)s>{2,} ?y }",
    "SELECT ?x ?y WHERE { ?x <%(p)s>{2,9} ?y }",
    "SELECT ?y WHERE { <http://e/n13> (<%(p)s>|<%(r)s>)+ ?y }",
    "SELECT ?y WHERE { <http://e/absent> ^<%(p)s>* ?y }",
    "SELECT ?y WHERE { <http://e/absent> <%(p)s>* ?y }",
]


@pytest.mark.parametrize("qt", CHAIN_POOL)
def test_deep_cyclic_chain_agrees_with_naive_evaluator(spark, qt):
    _agree(spark, CHAIN, qt % {"p": ISPARTOF, "r": REFS})


# Joins on a variable one side may leave unbound, each over its own
# graph of "s p o" triples (s and p in the e: namespace).
UNBOUND_POOL = [
    pytest.param("SELECT ?x ?z ?v ?y WHERE { ?x e:r ?z . "
                 "{ ?x e:p ?v } UNION { ?y e:q ?v } }",
                 "a r z1, b r z2, a p v1, c q v2, c r z2",
                 id="union-branch-leaves-x-unbound"),
    pytest.param("SELECT ?x ?w ?z WHERE { ?x e:r ?z "
                 "OPTIONAL { ?x e:p ?w } OPTIONAL { ?x e:s ?w } }",
                 "c r z2, c s w", id="second-optional-binds-w"),
    pytest.param("SELECT ?x ?z ?b WHERE { ?x e:r ?z "
                 "OPTIONAL { ?a e:q ?b } }",
                 "a r z1, b r z2", id="optional-sharing-nothing"),
    pytest.param("SELECT ?x ?z ?w WHERE { ?x e:r ?z "
                 "OPTIONAL { ?x e:p ?w } MINUS { ?x e:r ?w } }",
                 "a r z1, b r z2", id="minus-with-w-unbound"),
    pytest.param("SELECT ?x ?w WHERE { ?x e:r ?z "
                 "OPTIONAL { ?x e:p ?w } FILTER EXISTS { ?x e:s ?w } }",
                 "a r z1, b r z2, a s q", id="exists-with-w-unbound"),
]


@pytest.mark.parametrize("q, graph", UNBOUND_POOL)
def test_unbound_variable_joins_agree_with_naive_evaluator(spark, q, graph):
    triples = [("http://e/" + s, "http://e/" + p, o) for s, p, o in
               (t.split() for t in graph.split(", "))]
    _agree(spark, triples, "PREFIX e: <http://e/> " + q)
