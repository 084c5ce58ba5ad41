"""Deterministic synthetic ``web_pages`` corpus + golden fixtures.

Mirrors the reference's golden-fixture regression layout
(/root/reference/test/files/repo/<alias>/{downloaded,parsed,distilled}/,
harness /root/reference/ferenda/testutil.py:637-708) re-expressed as
tables per FIXTURES.md: every row is a pure function of (seed, i), and
the expected text / triples / citations are computed from the *synthesis
parameters* — NOT by running the engine — so the pytest gate is a real
independent check (byte-identical text; triple P/R >= 0.95).

Page families (FIXTURES.md §1):
- base: plain HTML w/ title, @lang, RDFa-ish head meta, URL citations
  (cf. /root/reference/test/files/base/downloaded/)
- w3c:  sectioned HTML, numeric-ordinal h1-h4, div.head/div.toc to be
  filtered, preamble sections (w3c.py:25-207)
- rfc:  <pre> RFC plaintext, two-column header, numbered sections,
  "RFC N" / "section X of [RFC N]" citations (rfc.py:101-427,549-634)
- sfs:  lagen.nu-style Swedish statute page exercising the legal
  citation grammars (lagrum + rättsfall + förarbete; operators/sfs.py,
  operators/svlegal.py)

Skew knob: one hot publisher ("Network Working Group") on ~60% of rfc
rows — the Zipfian label skew of the J1 lookup (SURVEY §4).
"""

from __future__ import annotations

import hashlib
import random
from datetime import datetime, timezone

from ferenda_spark import ns

BASE_URL = "http://localhost:8000/"

# entity dictionary (commondata, J1): label -> slug
PUBLISHERS = [
    "Network Working Group",          # hot: ~60% of rfc rows
    "Internet Engineering Task Force",
    "Internet Architecture Board",
    "World Wide Web Consortium",
]
CATEGORIES = ["Standards Track", "Informational", "Experimental",
              "Best Current Practice"]
AUTHORS = ["J. Smith", "K. Jones", "A. Chen", "M. Garcia", "R. Patel",
           "T. Nakamura"]
AFFILS = ["Example Corp", "Acme Networks", "Universitetet i Lund"]
MONTHS = ["January", "February", "March", "April", "May", "June", "July",
          "August", "September", "October", "November", "December"]
WORDS = ("protocol transport framework semantics header payload routing "
         "congestion window stream section requirement implementation "
         "registry namespace identifier resource metadata extraction "
         "linked data graph crawl archive document standard").split()


def _slug(label: str) -> str:
    return label.lower().replace(" ", "-")


def entity_uri(label: str) -> str:
    return f"{BASE_URL}ext/{_slug(label)}"


def commondata_rows() -> list[dict]:
    """label->URI dictionary rows (FIXTURES.md §2); foaf:name for
    publishers, bibo:identifier for categories (rfc.py:584-585)."""
    rows = [{"uri": entity_uri(p), "label": p, "pred": ns.FOAF_NAME}
            for p in PUBLISHERS]
    rows += [{"uri": entity_uri(c), "label": c, "pred": ns.BIBO_IDENTIFIER}
             for c in CATEGORIES]
    return rows


def canonical_uri(alias: str, basefile: str) -> str:
    """{base}res/{alias}/{basefile} (documentrepository.py:598-674)."""
    return f"{BASE_URL}res/{alias}/{basefile}"


def _norm(s: str) -> str:
    """normalize_space — reimplemented here on purpose so goldens don't
    depend on the engine module (util.py:279-290)."""
    return " ".join(s.replace("\xa0", " ").split())


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _ts(i: int) -> datetime:
    # deterministic sequence in 2013-2016 (fixture era)
    return datetime(2013 + (i % 4), 1 + (i * 7) % 12, 1 + (i * 13) % 28,
                    (i * 5) % 24, (i * 11) % 60, tzinfo=timezone.utc)


def _t(subj, pred, obj, is_uri=False, lang=None, datatype=None):
    return {"subj": subj, "pred": pred, "obj": obj, "obj_is_uri": is_uri,
            "obj_lang": lang, "obj_datatype": datatype}


# ---------------------------------------------------------------------------
# per-family builders: each returns (html_bytes, lang_col, golden dict)

def _build_base(i: int, rng: random.Random):
    alias = "base"
    basefile = f"{100 + i}/a" if i % 5 == 0 else str(100 + i)
    uri = canonical_uri(alias, basefile)
    lang = rng.choice(["en", "en", "en", "sv"])
    lang_attr = "" if i % 11 == 7 else f' lang="{lang}"'
    eff_lang = "en" if i % 11 == 7 else lang  # repo default 'en' fallback
    title = f"Document {basefile}: {_words(rng, 3)}"
    p1 = _words(rng, rng.randint(8, 25))
    cit_url = f"http://example.org/docs/{rng.randint(1, 99)}"
    p2_pre, p2_post = "See ", " for more details."
    p3 = _words(rng, rng.randint(8, 20))
    issued = f"201{i % 7}-0{1 + i % 9}-{10 + i % 19}"
    creator = rng.choice(AUTHORS)

    # charset exercise: declared latin-1 (ok), or mis-declared (mojibake)
    accent_word = "résumé"
    enc_mode = "latin1" if i % 7 == 3 else ("wrong" if i % 23 == 11 else "utf8")
    if enc_mode != "utf8":
        p1 = p1 + " " + accent_word
    charset = {"latin1": "iso-8859-1", "wrong": "iso-8859-1", "utf8": "utf-8"}[enc_mode]

    html = f"""<html{lang_attr}><head>
<meta http-equiv="Content-Type" content="text/html; charset={charset}">
<title>{title}</title>
<meta property="dcterms:issued" content="{issued}">
<meta property="dcterms:creator" content="{creator}">
</head>
<body>
<h1>{title}</h1>
<p>{p1}</p>
<p>{p2_pre}<a href="{cit_url}">{cit_url}</a>{p2_post}</p>
<script>var x = 1 &lt; 2;</script>
<div class="main"><p>{p3}</p></div>
</body></html>"""
    data = html.encode("iso-8859-1" if enc_mode == "latin1" else "utf-8")

    # what the decoder will actually see for p1
    p1_seen = p1
    if enc_mode == "wrong":  # utf-8 bytes decoded as latin-1 -> mojibake
        p1_seen = p1.encode("utf-8").decode("iso-8859-1")

    expected_text = " ".join([
        _norm(title), _norm(p1_seen),
        f"{_norm(p2_pre)} {cit_url} {_norm(p2_post)}",
        _norm(p3),
    ])

    triples = [
        _t(uri, ns.RDF_TYPE, ns.FOAF_DOCUMENT, True),
        _t(uri, ns.DCT_TITLE, title, lang=eff_lang),
        _t(uri, ns.DCT_IDENTIFIER, basefile),
        _t(uri, ns.PROV_WASGENERATEDBY, "ferenda.DocumentRepository"),
        _t(uri, ns.DCT_ISSUED, issued, datatype=ns.XSD_DATE),
        _t(uri, ns.DCT_CREATOR, creator),
        _t(uri, ns.DCT_REFERENCES, cit_url, True),
    ]
    citations = [{"subj": uri, "span": cit_url, "cited_uri": cit_url}]
    return data, (lang if lang_attr else None), {
        "alias": alias, "basefile": basefile, "uri": uri, "title": title,
        "lang": eff_lang, "text": expected_text, "triples": triples,
        "citations": citations,
    }


def _build_w3c(i: int, rng: random.Random):
    alias = "w3c"
    basefile = f"spec-{200 + i}"
    uri = canonical_uri(alias, basefile)
    title = f"{_words(rng, 2).title()} Specification Level {1 + i % 3}"
    editor = rng.choice(AUTHORS)
    day, month, year = 1 + i % 27, MONTHS[i % 12], 2010 + i % 8
    issued = f"{year}-{MONTHS.index(month) + 1:02d}-{day:02d}"
    abstract = _words(rng, rng.randint(10, 30))
    s1 = _words(rng, rng.randint(10, 30))
    s11 = _words(rng, rng.randint(10, 20))
    s2 = _words(rng, rng.randint(10, 20))
    cit_url = f"http://example.org/spec/{rng.randint(1, 50)}"

    html = f"""<html lang="en"><head><title>{title}</title></head>
<body>
<div class="head"><h1>{title}</h1>
<h2>W3C Recommendation {day} {month} {year}</h2>
<dl><dt>Editor:</dt><dd>{editor}</dd></dl></div>
<h2>Abstract</h2>
<p>{abstract}</p>
<div class="toc"><ul><li>1 Introduction</li><li>2 Conformance</li></ul></div>
<h2>1 Introduction</h2>
<p>{s1} See <a href="{cit_url}">{cit_url}</a>.</p>
<h3>1.1 Scope</h3>
<p>{s11}</p>
<h2>2 Conformance</h2>
<p>{s2}</p>
</body></html>"""
    data = html.encode("utf-8")

    expected_text = " ".join([
        "Abstract", _norm(abstract),
        "1 Introduction", f"{_norm(s1)} See {cit_url} .",
        "1.1 Scope", _norm(s11),
        "2 Conformance", _norm(s2),
    ])

    # reference-faithful metadata (validated against the reference's own
    # w3c distilled goldens in tests/test_reference_parity.py):
    # w3c:Recommendation type, hardcoded ext/w3c publisher, issued from
    # the 'W3C Recommendation <date>' header, NO citation parser, and
    # decorate_bodyparts sections carrying type/title/chapter only
    gen_by = "ferenda.sources.tech.w3c.W3Standards"
    triples = [
        _t(uri, ns.RDF_TYPE, ns.term("w3c", "Recommendation"), True),
        _t(uri, ns.DCT_TITLE, title, lang="en"),
        _t(uri, ns.DCT_IDENTIFIER, basefile),
        _t(uri, ns.DCT_PUBLISHER, "http://localhost:8000/ext/w3c", True),
        _t(uri, ns.DCT_ISSUED, issued, datatype=ns.XSD_DATE),
        _t(uri, ns.PROV_WASGENERATEDBY, gen_by),
    ]
    for frag, stitle, chapter in [
        ("PS1", "Abstract", None),
        ("S1", "Introduction", "1"),
        ("S1.1", "Scope", "1.1"),
        ("S2", "Conformance", "2"),
    ]:
        s = f"{uri}#{frag}"
        triples += [
            _t(s, ns.RDF_TYPE, ns.BIBO_DOCUMENTPART, True),
            _t(s, ns.DCT_TITLE, stitle, lang="en"),
        ]
        if chapter:
            triples.append(_t(s, ns.BIBO_CHAPTER, chapter))
    return data, "en", {
        "alias": alias, "basefile": basefile, "uri": uri, "title": title,
        "lang": "en", "text": expected_text, "triples": triples,
        "citations": [],
    }


def _build_rfc(i: int, rng: random.Random):
    alias = "rfc"
    num = 1000 + i
    basefile = str(num)
    uri = canonical_uri(alias, basefile)
    # Zipfian publisher: hot label on ~60% of rows
    publisher = PUBLISHERS[0] if rng.random() < 0.6 else rng.choice(PUBLISHERS[1:3])
    category = rng.choice(CATEGORIES)
    author = rng.choice(AUTHORS)
    affil = rng.choice(AFFILS)
    month = MONTHS[i % 12]
    year = 2010 + i % 7
    issued = f"{year}-{MONTHS.index(month) + 1:02d}"
    title = f"The {_words(rng, 2).title()} Protocol"
    upd = num - rng.randint(1, min(400, num - 1001)) if i % 3 == 0 and num > 1002 else None
    cite1 = num - rng.randint(1, min(900, num - 1001)) if num > 1002 else 999
    cite2 = num - rng.randint(1, min(900, num - 1001)) if num > 1002 else 998
    intro = _words(rng, rng.randint(15, 40))
    scope = _words(rng, rng.randint(10, 25))
    sec2 = _words(rng, rng.randint(10, 25))
    abstract = _words(rng, rng.randint(10, 20))

    updates_line = f"\nUpdates: {upd}" if upd else ""
    pre = f"""{publisher}                                              {author}
Request for Comments: {num}                             {affil}
Category: {category}                                    {month} {year}
ISSN: 2070-1721{updates_line}

                 {title}

Abstract

   {abstract}

1.  Introduction

   {intro} This document relies on RFC {cite1}, and see
   section 2 of [RFC {cite2}] for the framing rules.

1.1.  Scope

   {scope}

2.  Security Considerations

   {sec2}
"""
    html = (f"<html><head><title>RFC {num} - {title}</title></head>"
            f"<body><pre>{pre}</pre></body></html>")
    data = html.encode("utf-8")

    expected_text = _norm(pre)
    # reference-faithful doc metadata (validated against the reference's
    # own distilled goldens in tests/test_reference_parity.py):
    # rdf:type rfc:RFC, qualified classname, header lift (rfc.py:483-634)
    gen_by = "ferenda.sources.tech.rfc.RFC"
    triples = [
        _t(uri, ns.RDF_TYPE, ns.term("rfc", "RFC"), True),
        _t(uri, ns.DCT_TITLE, title, lang="en"),
        _t(uri, ns.PROV_WASGENERATEDBY, gen_by),
        _t(uri, ns.DCT_IDENTIFIER, f"RFC {num}"),
        _t(uri, ns.DCT_PUBLISHER, entity_uri(publisher), True),
        _t(uri, ns.DCT_SUBJECT, entity_uri(category), True),
        _t(uri, ns.DCT_ISSN, "2070-1721"),
        _t(uri, ns.DCT_CREATOR, author),
        _t(uri, ns.DCT_RIGHTSHOLDER, affil),
        _t(uri, ns.DCT_ISSUED, issued, datatype=ns.XSD_GYEARMONTH),
    ]
    if upd:
        triples.append(_t(uri, ns.RFC_UPDATES, canonical_uri("rfc", str(upd)), True))
    # preamble part: type+title only (PreambleSection, rfc.py:36-59)
    triples += [
        _t(f"{uri}#PS1", ns.RDF_TYPE, ns.BIBO_DOCUMENTPART, True),
        _t(f"{uri}#PS1", ns.DCT_TITLE, "Abstract", lang="en"),
    ]
    # numbered sections: identifier "RFC N, section X"@en + @en chapter
    # (rfc.py:352-366 + xml:lang inheritance in the RDFa render)
    for frag, stitle, chapter, parent in [
        ("S1", "Introduction", "1", uri),
        ("S1.1", "Scope", "1.1", uri + "#S1"),
        ("S2", "Security Considerations", "2", uri),
    ]:
        s = f"{uri}#{frag}"
        triples += [
            _t(s, ns.RDF_TYPE, ns.BIBO_DOCUMENTPART, True),
            _t(s, ns.DCT_TITLE, stitle, lang="en"),
            _t(s, ns.DCT_IDENTIFIER, f"RFC {num}, section {chapter}",
               lang="en"),
            _t(s, ns.DCT_ISPARTOF, parent, True),
            _t(s, ns.BIBO_CHAPTER, chapter, lang="en"),
        ]
    c1_uri = canonical_uri("rfc", str(cite1))
    c2_uri = canonical_uri("rfc", str(cite2)) + "#S2"
    triples += [
        _t(uri + "#S1", ns.DCT_REFERENCES, c1_uri, True),
        _t(uri + "#S1", ns.DCT_REFERENCES, c2_uri, True),
    ]
    citations = [
        {"subj": uri + "#S1", "span": f"RFC {cite1}", "cited_uri": c1_uri},
        {"subj": uri + "#S1", "span": f"section 2 of [RFC {cite2}]",
         "cited_uri": c2_uri},
    ]
    return data, "en", {
        "alias": alias, "basefile": basefile, "uri": uri, "title": title,
        "lang": "en", "text": expected_text, "triples": triples,
        "citations": citations,
    }


def _build_sfs(i: int, rng: random.Random):
    """lagen.nu-style Swedish statute page: the C6 lagrum grammar plus
    the rättsfall/förarbete companions run as this repo's citation
    parsers (operators/sfs.py, operators/svlegal.py)."""
    alias = "sfs"
    year = 1990 + i % 30
    num = 100 + i % 800
    basefile = f"{year}:{num}"
    uri = canonical_uri(alias, basefile)
    title = f"Lag ({basefile}) om {_words(rng, 2)}"
    kap = 1 + i % 4
    par = 1 + i % 20
    rf_year = 1995 + i % 20
    rf_page = 10 + i % 90
    prop_id = f"{year}/{str(year + 1)[2:]}:{10 + i % 80}"
    body = (f"Enligt {kap} kap. {par} § rättegångsbalken gäller vad som "
            f"sägs i NJA {rf_year} s. {rf_page} och prop. {prop_id}, "
            f"s. {20 + i % 60}.")
    html = (f'<html lang="sv"><head><title>{title}</title></head>'
            f"<body><p>{body}</p></body></html>")
    data = html.encode("utf-8")

    expected_text = _norm(body)
    triples = [
        _t(uri, ns.RDF_TYPE, ns.BIBO_STANDARD, True),
        _t(uri, ns.DCT_TITLE, title, lang="sv"),
        _t(uri, ns.DCT_IDENTIFIER, basefile),
        _t(uri, ns.PROV_WASGENERATEDBY, "ferenda.sources.legal.se.SFS"),
    ]
    cites = [
        f"https://lagen.nu/1942:740#K{kap}P{par}",
        f"https://lagen.nu/rf/nja/{rf_year}s{rf_page}",
        f"https://lagen.nu/prop/{prop_id}#sid{20 + i % 60}",
    ]
    citations = []
    for c in cites:
        triples.append(_t(uri, ns.DCT_REFERENCES, c, True))
        citations.append({"subj": uri, "span": None, "cited_uri": c})
    return data, "sv", {
        "alias": alias, "basefile": basefile, "uri": uri, "title": title,
        "lang": "sv", "text": expected_text, "triples": triples,
        "citations": citations,
    }


# ---------------------------------------------------------------------------

def gen_row(i: int, seed: int = 42) -> dict:
    """One web_pages row + goldens; pure function of (seed, i) — which is
    what lets synthesis distribute (web_pages_df_dist)."""
    rng = random.Random((seed << 20) + i)
    fam = ("base", "base", "w3c", "rfc", "rfc", "base", "w3c", "rfc",
           "sfs", "w3c")[i % 10]
    build = {"base": _build_base, "w3c": _build_w3c, "rfc": _build_rfc,
             "sfs": _build_sfs}[fam]
    data, lang_col, golden = build(i, rng)
    url = golden["uri"]  # crawl url == canonical uri for fixtures
    return {
        "url": url,
        "warc_ts": _ts(i),
        "html": data,
        "text": None,          # engine fills this
        "lang": lang_col,
        "golden": golden,
        "content_md5": hashlib.md5(data).hexdigest(),
    }


def gen_rows(n: int, seed: int = 42) -> list[dict]:
    """n web_pages rows + goldens; pure function of (seed, i)."""
    return [gen_row(i, seed) for i in range(n)]


# ---------------------------------------------------------------------------
# Spark DataFrame builders

WEB_PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                    "text string, lang string")


def web_pages_df(spark, n: int, seed: int = 42):
    rows = gen_rows(n, seed)
    return spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"]) for r in rows],
        WEB_PAGES_SCHEMA,
    )


def web_pages_df_dist(spark, n: int, seed: int = 42,
                      partitions: int | None = None):
    """Distributed fixture synthesis: ``spark.range(n)`` -> each task
    generates its own index slice with ``gen_row`` (pure in (seed, i)).
    Driver-side ``createDataFrame`` tops out around 10^5 rows; this path
    materializes a corpus of any size cluster-side — the same pattern a
    10^12-page load test would use."""
    import pandas as pd

    parts = partitions or spark.sparkContext.defaultParallelism * 2

    def gen(batches):
        for pdf in batches:
            rows = [gen_row(int(i), seed) for i in pdf["id"]]
            yield pd.DataFrame(
                [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
                 for r in rows],
                columns=["url", "warc_ts", "html", "text", "lang"])

    return (spark.range(n).repartition(parts)
            .mapInPandas(gen, WEB_PAGES_SCHEMA))


def golden_text_df(spark, n: int, seed: int = 42):
    rows = gen_rows(n, seed)
    return spark.createDataFrame(
        [(r["url"], r["golden"]["text"]) for r in rows], "url string, text string"
    )


def golden_triples_df(spark, n: int, seed: int = 42):
    rows = gen_rows(n, seed)
    data = []
    for r in rows:
        for t in r["golden"]["triples"]:
            data.append((r["url"], t["subj"], t["pred"], t["obj"],
                         t["obj_is_uri"], t["obj_lang"], t["obj_datatype"]))
    return spark.createDataFrame(
        data,
        "url string, subj string, pred string, obj string, "
        "obj_is_uri boolean, obj_lang string, obj_datatype string",
    )


def commondata_df(spark):
    return spark.createDataFrame(
        [(r["uri"], r["label"], r["pred"]) for r in commondata_rows()],
        "uri string, label string, pred string",
    )
