"""P10 render / S12 static-site sink: the renderer must be the exact
inverse of the distill direction — extract_rdfa(render_xhtml(G)) == G
as a triple set — for the reference's own committed distilled graphs
AND the engine's full synthetic-corpus output; plus the columnar
TOC/feed pages and the site sink."""

from __future__ import annotations

import os

import pytest

from ferenda_spark.operators.rdfa import extract_rdfa
from ferenda_spark.operators.render import (feed_pages, render_documents,
                                            render_xhtml, toc_pages,
                                            write_site)

BASE_DISTILLED = "/root/reference/test/files/base/distilled/123"
TESTREPOS = "/root/reference/test/files/testrepos"


def _norm(t: dict) -> tuple:
    return (t["subj"], t["pred"], t["obj"], bool(t.get("obj_is_uri")),
            t.get("obj_lang"), t.get("obj_datatype"))


def _roundtrip(triples: list[dict], doc_uri: str, lang=None,
               prefixes=None):
    xhtml = render_xhtml(triples, doc_uri, lang=lang, prefixes=prefixes)
    got = {_norm(t) for t in extract_rdfa(xhtml)}
    want = {_norm(t) for t in triples}
    assert got == want, (
        f"\nmissing: {sorted(want - got)[:5]}\nextra: {sorted(got - want)[:5]}")


@pytest.mark.requires_reference(BASE_DISTILLED)
def test_roundtrip_reference_distilled_graphs():
    from ferenda_spark.turtle import parse_turtle

    for bf in ("a", "b", "c"):
        trips = parse_turtle(
            open(f"{BASE_DISTILLED}/{bf}.ttl").read())
        _roundtrip(trips, f"http://example.org/base/123/{bf}", lang="en")


@pytest.mark.requires_reference(TESTREPOS)
def test_roundtrip_testrepos_parsed_graphs():
    """Distill the committed parsed XHTML, re-render, re-distill —
    fixed point."""
    for repo in ("repo1", "repo2", "repo3"):
        for bf in ("a", "b", "c", "d"):
            trips = extract_rdfa(open(
                f"{TESTREPOS}/{repo}/parsed/{bf}.xhtml", "rb").read())
            doc = min(t["subj"] for t in trips)
            _roundtrip(trips, doc, lang="en",
                       prefixes={"ex": "http://example.org/vocab/"})


def test_roundtrip_synthetic_corpus_triples():
    """Render the engine's own full extract->triples output per doc and
    distill it back: exact triple-set equality for every page family
    (base/w3c/rfc/sfs incl. fragments, datatypes, languages)."""
    from ferenda_spark.fixtures.webpages import gen_rows

    for r in gen_rows(40):
        g = r["golden"]
        trips = [dict(t) for t in g["triples"]]
        _roundtrip(trips, g["uri"], lang=g["lang"])


def test_roundtrip_edge_literals():
    doc = "http://x/doc"
    trips = [
        {"subj": doc, "pred": "http://purl.org/dc/terms/title",
         "obj": 'quotes " & <tags> \'', "obj_is_uri": False,
         "obj_lang": "sv", "obj_datatype": None},
        {"subj": doc, "pred": "http://purl.org/dc/terms/issued",
         "obj": "2014-04-01", "obj_is_uri": False, "obj_lang": None,
         "obj_datatype": "http://www.w3.org/2001/XMLSchema#date"},
        {"subj": doc, "pred": "http://purl.org/dc/terms/identifier",
         "obj": "no-lang literal", "obj_is_uri": False,
         "obj_lang": None, "obj_datatype": None},
        {"subj": doc + "#S1", "pred": "http://unknown.example/vocab#p",
         "obj": "http://x/other", "obj_is_uri": True,
         "obj_lang": None, "obj_datatype": None},
    ]
    _roundtrip(trips, doc, lang="en")


def test_render_documents_stage_and_site_sink(spark, tmp_path):
    from pyspark.sql import functions as F

    from ferenda_spark.fixtures.webpages import commondata_df, web_pages_df
    from ferenda_spark.operators.extract import extract
    from ferenda_spark.operators.triples import all_triples

    triples = all_triples(extract(web_pages_df(spark, 30)),
                          commondata_df(spark))
    lang_by_url = (triples
                   .where(F.col("pred") ==
                          "http://purl.org/dc/terms/language")
                   .select("url", F.col("obj").alias("lang"))
                   .dropDuplicates(["url"]))
    pages = render_documents(triples, lang_by_url).collect()
    assert len(pages) == 30
    by_url = {r.url: r.xhtml for r in pages}

    # round-trip through the Spark stage output for every document
    rows = triples.collect()
    want: dict = {}
    for r in rows:
        want.setdefault(r.url, set()).add(
            (r.subj, r.pred, r.obj, bool(r.obj_is_uri), r.obj_lang,
             r.obj_datatype))
    for url, xhtml in by_url.items():
        got = {(t["subj"], t["pred"], t["obj"], bool(t["obj_is_uri"]),
                t.get("obj_lang"), t.get("obj_datatype"))
               for t in extract_rdfa(xhtml)}
        assert got == want[url], url

    toc = toc_pages(triples)
    feeds = feed_pages(triples, page_size=10)
    trows = toc.collect()
    assert trows and all(r.path.startswith("toc/issued/") for r in trows)
    assert sum(r.n_docs for r in trows) > 0
    frows = sorted(feeds.collect(), key=lambda r: r.path)
    assert frows and frows[0].content.startswith("<feed")
    # all issued docs appear exactly once across feed pages
    n_issued = sum(r.n_docs for r in frows)
    assert all(r.n_docs <= 10 for r in frows)
    assert n_issued == sum(r.n_docs for r in trows)

    doc_pages_df = render_documents(triples, lang_by_url)
    write_site(doc_pages_df, toc, feeds, str(tmp_path))
    site = spark.read.parquet(f"{tmp_path}/site")
    kinds = {r.kind for r in site.select("kind").distinct().collect()}
    assert kinds == {"doc", "toc", "feed"}
    assert site.count() == len(pages) + len(trows) + len(frows)
