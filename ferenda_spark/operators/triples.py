"""Metadata lift: extracted -> triples (SURVEY.md §2 P1, P8, P9, C2/C3;
build plan M2-M4).

Emits the engine's triple schema
    (url, subj, pred, obj, obj_is_uri, obj_lang, obj_datatype)
from the ``extracted`` table with PURE column expressions — the union of
these branches IS the reference's "distilled" per-document graph
(decorators.py:161-187), verified against golden fixtures.

Branches (all narrow maps or broadcast joins — zero shuffles besides the
broadcast exchange):
  1. doc-level scalars   (parse_metadata_from_soup, documentrepository.py:1182-1222)
  2. RFC header values   (rfc.py:549-634) incl. creators/rightsholders
  3. publisher/category label->URI entity linking (J1 broadcast join,
     lookup_resource documentrepository.py:439-485)
  4. updates/obsoletes -> COIN-minted URIs (rfc.py:592-600)
  5. sections -> fragment URIs + DocumentPart triples (P9,
     w3c.py:290-303 decorate_bodyparts)
  6. citations -> dcterms:references (C2, citationparser.py:98-165)
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ferenda_spark import ns
from ferenda_spark.operators.coin import CoinTemplate, compile_coin
from ferenda_spark.sources import REPOS

TRIPLES_COLS = ["url", "subj", "pred", "obj", "obj_is_uri", "obj_lang",
                "obj_datatype"]

BASE_URL = "http://localhost:8000/"

# COIN templates for the rfc URI space (C7): section-qualified reference
# outranks the bare document reference (more bindings -> earlier,
# coin.py:39-40)
RFC_COIN_TEMPLATES = [
    CoinTemplate(uri_template="{+base}res/rfc/{rfcnum}",
                 bindings=("rfcnum",)),
    CoinTemplate(uri_template="{+base}res/rfc/{rfcnum}",
                 fragment_template="S{secref}",
                 bindings=("rfcnum", "secref")),
]

# recognized RDFa-ish head <meta property=...> keys -> (pred, datatype)
KNOWN_HEAD_META = {
    "dcterms:issued": (ns.DCT_ISSUED, ns.XSD_DATE),
    "dcterms:creator": (ns.DCT_CREATOR, None),
    "dcterms:subject": (ns.DCT_SUBJECT, None),
}


def _alias_case(mapping: dict[str, str]) -> Column:
    """alias -> constant, as a when() chain over the repo config."""
    out = None
    for alias, val in mapping.items():
        cond = F.col("alias") == alias
        out = F.when(cond, val) if out is None else out.when(cond, val)
    return out


def _ts(subj, pred, obj, is_uri=False, lang=None, datatype=None) -> Column:
    def c(x, name):
        col = x if isinstance(x, Column) else F.lit(x)
        return col.cast("string").alias(name)

    return F.struct(
        c(subj, "subj"), c(pred, "pred"), c(obj, "obj"),
        (is_uri if isinstance(is_uri, Column) else F.lit(is_uri))
        .cast("boolean").alias("obj_is_uri"),
        c(lang, "obj_lang"), c(datatype, "obj_datatype"),
    )


def _frag(ordinal: Column) -> Column:
    """'1.1' -> 'S1.1', 'PS2' -> 'PS2' (elements.py:595-596 / FIXTURES §4)."""
    return F.when(ordinal.startswith("PS"), ordinal).otherwise(
        F.concat(F.lit("S"), ordinal))


def label_link_triples(extracted: DataFrame, commondata: DataFrame) -> DataFrame:
    """Branch 3 (J1): publisher (foaf:name) and category (bibo:identifier)
    label->URI lookup as a BROADCAST hash join; unmatched labels fall back
    to a plain literal (documentrepository.py:439-485 KeyError branch,
    rfc.py:557-589).  Broadcasting the (tiny) dictionary makes the Zipfian
    label skew a non-issue — no shuffle on the hot key at all; see
    canonicalize.salted_join for the big-dictionary path."""
    e = extracted.where("parse_ok")
    out = None
    for field, lookup_pred, pred in [
        ("publisher", ns.FOAF_NAME, ns.DCT_PUBLISHER),
        ("category", ns.BIBO_IDENTIFIER, ns.DCT_SUBJECT),
    ]:
        dim = (commondata.where(F.col("pred") == lookup_pred)
               .select(F.col("label"), F.col("uri").alias("ent_uri")))
        branch = (
            e.select("url", "doc_uri",
                     F.col("rfc_header")[field].alias("label"))
            .where(F.col("label").isNotNull())
            .join(F.broadcast(dim), "label", "left")
            .select(
                "url", F.col("doc_uri").alias("subj"), F.lit(pred).alias("pred"),
                F.coalesce("ent_uri", "label").alias("obj"),
                F.col("ent_uri").isNotNull().alias("obj_is_uri"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_datatype"),
            )
        )
        out = branch if out is None else out.unionByName(branch)
    return out


def _arr(col: Column) -> Column:
    """null array -> empty array (rfc_header is null for non-rfc docs)."""
    return F.coalesce(col, F.array())


def _rdf_type_col() -> Column:
    """Doc rdf:type: repo config constant, except the rfc repo where a
    BCP/STD/FYI header key overrides to rfc:BCP / rfc:FYI
    (rfc.py:494-497, 603-611)."""
    static = _alias_case({a: r["rdf_type"] for a, r in REPOS.items()})
    h = F.col("rfc_header")
    return F.when(
        F.col("alias") == "rfc",
        F.concat(F.lit(ns.NS["rfc"]), F.coalesce(h["rdftype"], F.lit("RFC")))
    ).otherwise(static)


def _identifier_col() -> Column:
    """rfc: header-derived "RFC N" with basefile fallback
    (rfc.py:499-500); other repos: the basefile."""
    h = F.col("rfc_header")
    return F.when(
        F.col("alias") == "rfc",
        F.coalesce(h["identifier"],
                   F.concat(F.lit("RFC "), F.col("basefile")))
    ).otherwise(F.col("basefile"))


def _static_publisher_col() -> Column:
    """Repos with a config-constant publisher (w3c.py:259 hardcodes
    dcterms:publisher -> ext/w3c); null elsewhere (rfc publishers come
    from the J1 label lookup instead)."""
    pub = {a: r["publisher_uri"] for a, r in REPOS.items()
           if "publisher_uri" in r}
    return _alias_case(pub) if pub else F.lit(None).cast("string")


def fused_scalar_triples(extracted: DataFrame,
                         extra_structs: list[Column] | None = None) -> DataFrame:
    """Branches 1+2+4+5+6 in ONE scan + ONE explode: every per-row
    triple source (doc scalars, header people/relations, sections,
    citations) is concatenated into a single array<struct> before the
    Generate.  One map stage instead of one per branch — on a cluster
    that is 4 fewer scans of the extracted table; in local mode it also
    cuts task-launch overhead, which dominates at fixture scale."""
    return _explode_triples(extracted, _triple_array(extra_structs))


def _triple_array(extra_structs: list[Column] | None) -> Column:
    """The fused lift's per-row array<struct> of candidate triples.  It
    depends only on module constants and ``extra_structs``, so one build
    serves every batch; building it costs a few thousand py4j calls."""
    classname = _alias_case({a: r["classname"] for a, r in REPOS.items()})
    h = F.col("rfc_header")
    identifier = _identifier_col()
    doc = F.col("doc_uri")

    # bibo:shortTitle from the running page header, only when it differs
    # from the full title (rfc.py:504-508)
    short_title = F.when(F.col("short_title") != F.col("title"),
                         F.col("short_title"))

    fixed = [
        _ts(doc, ns.RDF_TYPE, _rdf_type_col(), True),
        _ts(doc, ns.DCT_TITLE, F.col("title"), lang=F.col("lang")),
        _ts(doc, ns.BIBO_SHORTTITLE, short_title, lang=F.col("lang")),
        _ts(doc, ns.DCT_IDENTIFIER, identifier),
        _ts(doc, ns.DCT_PUBLISHER, _static_publisher_col(), True),
        _ts(doc, ns.PROV_WASGENERATEDBY, classname),
        _ts(doc, ns.DCT_ISSN, h["issn"]),
        _ts(doc, ns.DCT_ISSUED, h["issued"], datatype=ns.XSD_GYEARMONTH),
        _ts(doc, ns.RFC_BCPNUMBER, h["bcpnumber"]),
        _ts(doc, ns.RFC_STDNUMBER, h["stdnumber"]),
        _ts(doc, ns.RFC_FYINUMBER, h["fyinumber"]),
    ]
    for key, (pred, dtype) in KNOWN_HEAD_META.items():
        fixed.append(_ts(doc, pred, F.col("head_meta").getItem(key),
                         datatype=dtype))

    creators = F.transform(_arr(h["creators"]),
                           lambda c: _ts(doc, ns.DCT_CREATOR, c))
    rights = F.transform(_arr(h["rightsholders"]),
                         lambda c: _ts(doc, ns.DCT_RIGHTSHOLDER, c))

    def _mint_rel(pred):
        def inner(x):
            minted = compile_coin(
                RFC_COIN_TEMPLATES, BASE_URL,
                {"rfcnum": x, "secref": F.lit(None).cast("string")})
            return _ts(doc, pred, minted, True)
        return inner

    updates = F.transform(_arr(h["updates"]), _mint_rel(ns.RFC_UPDATES))
    obsoletes = F.transform(_arr(h["obsoletes"]), _mint_rel(ns.RFC_OBSOLETES))

    is_rfc = F.col("alias") == "rfc"

    def _section_structs(s):
        subj = F.concat(doc, F.lit("#"), _frag(s["ordinal"]))
        parent = F.when(s["parent_ordinal"].isNull(), doc).otherwise(
            F.concat(doc, F.lit("#"), _frag(s["parent_ordinal"])))
        is_ps = s["ordinal"].startswith("PS")
        # rfc preamble parts carry ONLY type+title (PreambleSection
        # renders no isPartOf/identifier/chapter, rfc.py:36-59 +
        # distilled goldens); numbered rfc sections additionally get
        # "RFC N, section X"@en identifiers (rfc.py:352-366) and
        # @en-tagged chapters (xml:lang inheritance in the RDFa render)
        chapter = F.when(~is_ps, s["ordinal"])
        chapter_lang = F.when(is_rfc, F.col("lang"))
        sec_ident = F.when(
            is_rfc & ~is_ps,
            F.concat(F.lit("RFC "), F.col("basefile"),
                     F.lit(", section "), s["ordinal"]))
        # isPartOf: only rfc numbered sections carry it — the w3c
        # decorate_bodyparts emits type/title/chapter only (w3c.py:290-303
        # + both repos' distilled goldens)
        parent_obj = F.when(is_rfc & ~is_ps, parent)
        return F.array(
            _ts(subj, ns.RDF_TYPE, ns.BIBO_DOCUMENTPART, True),
            _ts(subj, ns.DCT_TITLE, s["title"], lang=F.col("lang")),
            _ts(subj, ns.DCT_IDENTIFIER, sec_ident, lang=F.col("lang")),
            _ts(subj, ns.DCT_ISPARTOF, parent_obj, True),
            _ts(subj, ns.BIBO_CHAPTER, chapter, lang=chapter_lang),
        )

    sections = F.flatten(F.transform(_arr(F.col("sections")),
                                     _section_structs))

    def _citation_struct(c):
        subj = F.when(c["section_ordinal"].isNull(), doc).otherwise(
            F.concat(doc, F.lit("#"), _frag(c["section_ordinal"])))
        minted = compile_coin(
            RFC_COIN_TEMPLATES, BASE_URL,
            {"rfcnum": c["rfcnum"], "secref": c["secref"]})
        # 'sec' = bare doc-relative section citation (rfc.py:430-436:
        # empty base + "#S" + sec resolves against the document)
        obj = (F.when(c["kind"].isin("url", "sfs"), c["url"])
               .when(c["kind"] == "sec",
                     F.concat(doc, F.lit("#S"), c["secref"]))
               .otherwise(minted))
        return _ts(subj, ns.DCT_REFERENCES, obj, True)

    citations = F.transform(_arr(F.col("citations")), _citation_struct)

    return F.concat(F.array(*fixed), creators, rights, updates, obsoletes,
                    sections, citations, *(extra_structs or []))


def _explode_triples(extracted: DataFrame, allt: Column) -> DataFrame:
    """One row per distinct non-null triple of ``allt`` (built by
    ``_triple_array``) for each parsed document of ``extracted``."""
    # Set semantics WITHOUT a shuffle: duplicates can only occur within
    # one document (subjects embed the per-url doc_uri), and a doc's
    # triples are all born in this one array — so array_distinct before
    # the explode IS the global distinct.  Full-struct equality is the
    # RDF-correct key (a URI object and an equal-string literal are
    # different triples); the former dropDuplicates over the exploded
    # rows shuffled the entire triple log for the same result.
    return (
        extracted.where("parse_ok")
        .select("url", F.explode(F.array_distinct(allt)).alias("t"))
        .where(F.col("t.obj").isNotNull())
        .select("url", "t.subj", "t.pred", "t.obj", "t.obj_is_uri",
                "t.obj_lang", "t.obj_datatype")
    )


# dictionaries up to this size are compiled into literal map expressions
# (constant-folded by Catalyst, zero join); larger ones broadcast-join;
# ones too big to broadcast go through canonicalize.salted_join
_LITERAL_DICT_MAX = 10_000

# fused lift expressions kept for distinct dictionaries: a deployment
# lifts every batch under one dictionary, a test suite under a few
_LIFT_CACHE_SIZE = 4

# a dictionary row: (uri, label, pred), commondata's columns
DictRows = tuple[tuple[str, str, str], ...]


def _label_link_structs(dict_rows: DictRows) -> list[Column]:
    """J1 as pure column logic: the label->URI dictionary becomes a
    literal map expression — the columnar twin of the reference's
    in-memory graph lookup (documentrepository.py:439-485), valid
    whenever the dictionary fits the driver (publishers/categories are
    dozens of rows).  Returns struct-builders for the fused pass."""
    out = []
    h = F.col("rfc_header")
    for field_name, lookup_pred, pred in [
        ("publisher", ns.FOAF_NAME, ns.DCT_PUBLISHER),
        ("category", ns.BIBO_IDENTIFIER, ns.DCT_SUBJECT),
    ]:
        entries = [(label, uri) for uri, label, p in dict_rows
                   if p == lookup_pred]
        label = h[field_name]
        if entries:
            flat = []
            for k, v in entries:
                flat += [F.lit(k), F.lit(v)]
            ent_uri = F.element_at(F.create_map(*flat), label)
        else:
            ent_uri = F.lit(None).cast("string")
        obj = F.coalesce(ent_uri, label)
        out.append(F.when(
            label.isNotNull(),
            F.array(_ts(F.col("doc_uri"), pred, obj, ent_uri.isNotNull()))
        ).otherwise(F.array()))
    return out


@functools.lru_cache(maxsize=_LIFT_CACHE_SIZE)
def _fused_lift(dict_rows: DictRows) -> Column:
    """The fused lift's array<struct> with the dictionary compiled in,
    built once per dictionary.  A Column is an unresolved expression
    tree, so one build applies to every batch's ``extracted``; the key
    is the dictionary's rows in collect order, so any other dictionary
    (or order) builds its own."""
    return _triple_array(_label_link_structs(dict_rows))


def all_triples(extracted: DataFrame, commondata: DataFrame) -> DataFrame:
    """The full distilled graph; set semantics (reference distilled
    graphs are triple SETS) — shuffle-free in the fused branch (per-
    document array_distinct), one dedup shuffle in the join branch.

    Strategy: when the entity dictionary is small enough to collect
    (it is config-scale data in the reference — res/extra/*.ttl), the
    J1 label lookup compiles into the fused single-pass emission as a
    literal map => the WHOLE lift is one map stage, its expression
    built once per dictionary (``_fused_lift``).  Reading the dictionary
    is one bounded collect.  Otherwise fall back to the broadcast-join
    branch (and for dictionaries beyond broadcast size,
    canonicalize.salted_join)."""
    rows = commondata.limit(_LITERAL_DICT_MAX + 1).collect()
    if len(rows) <= _LITERAL_DICT_MAX:
        # _explode_triples enforces set semantics per document via
        # pre-explode array_distinct — no dedup shuffle
        key = tuple((r["uri"], r["label"], r["pred"]) for r in rows)
        return _explode_triples(extracted, _fused_lift(key))
    # join-branch: label_link rows come from a second scan, so the
    # cross-source dedup still needs the shuffle (non-bench path,
    # dictionaries too big to compile into the fused expression)
    return (
        fused_scalar_triples(extracted)
        .unionByName(label_link_triples(extracted, commondata))
        .dropDuplicates(["url", "subj", "pred", "obj", "obj_lang",
                         "obj_datatype"])
    )
