"""MediaWiki source decoder gates (sources/mediawiki.py) against the
reference's OWN committed fixtures
(test/files/repo/mediawiki/downloaded/*.xml) and their parsed XHTML
goldens (.../parsed/*.xhtml) — the keyword-hub content path."""

import re
from xml.etree import ElementTree

import pytest

from ferenda_spark.sources import mediawiki as M

FIX = "/root/reference/test/files/repo/mediawiki"
XH = "{http://www.w3.org/1999/xhtml}"

pytestmark = pytest.mark.requires_reference(FIX)


def _read(path: str) -> bytes:
    """The fixture filenames are NFD-encoded on disk (mac-style
    combining diaereses) — resolve via a normalized directory scan."""
    import os
    import unicodedata
    d, name = path.rsplit("/", 1)
    for cand in os.listdir(d):
        if unicodedata.normalize("NFC", cand) == name:
            path = f"{d}/{cand}"
            break
    with open(path, "rb") as fh:
        return fh.read()


def _norm(s: str) -> str:
    return re.sub(r"\s+", " ", s).strip()


def _golden(path: str):
    """(paragraph texts, head subject leaves, body /concept/ hrefs)
    from a parsed golden."""
    root = ElementTree.fromstring(_read(path))
    body = root.find(f"{XH}body")
    paras = [_norm("".join(p.itertext())) for p in body.iter(f"{XH}p")]
    subjects = [el.get("href").rsplit("/", 1)[-1]
                for el in root.find(f"{XH}head")
                if el.get("rel") == "dcterms:subject"]
    concepts = [a.get("href").split("/concept/", 1)[1]
                for a in body.iter(f"{XH}a")
                if "/concept/" in (a.get("href") or "")]
    return paras, subjects, concepts


@pytest.mark.parametrize("name", ["Allmän_domstol", "Anskaffarfrihet"])
def test_concept_page_matches_parsed_golden(name):
    """Plain-text paragraphs, dcterms:subject categories and internal
    concept links all reproduce the reference's parsed golden."""
    page = M.parse_page(_read(f"{FIX}/downloaded/{name}.xml"))
    assert page["title"] == name.replace("_", " ")
    assert page["ns"] == 0
    decoded = M.wikitext_to_blocks(page["wikitext"])
    want_paras, want_subjects, want_concepts = _golden(
        f"{FIX}/parsed/{name}.xhtml")
    got_paras = [_norm(b["text"]) for b in decoded["blocks"]
                 if b["tag"] == "p"]
    assert got_paras == [p for p in want_paras if p]
    assert [M.canonical_target(c) for c in decoded["categories"]] == \
        want_subjects
    assert decoded["links"] == want_concepts


def test_displaytitle_headings_and_piped_links():
    """SFS/1990/932 fixture: {{DISPLAYTITLE:...}} extraction
    (wiki.py:344-353), == h2 == section headings, [[a|b]] labels."""
    page = M.parse_page(_read(f"{FIX}/downloaded/SFS/1990/932.xml"))
    d = M.wikitext_to_blocks(page["wikitext"])
    assert d["display_title"] == "Konsumentköplag (1990:932)"
    heads = [b["text"] for b in d["blocks"] if b["tag"] == "h2"]
    assert heads[:2] == ["1 §", "2 §"]
    first_section = [b for b in d["blocks"] if b["tag"] == "p"]
    assert any("Lösa saker är till exempel" in b["text"]
               for b in first_section)
    assert "Lös_sak" in d["links"]
    assert "{{" not in " ".join(b["text"] for b in d["blocks"])


def test_lists_italics_and_external_links():
    """SFS/1998/204 fixture: # ordered-list items, ''italic'' author
    line, [url label] external links become their labels."""
    page = M.parse_page(_read(f"{FIX}/downloaded/SFS/1998/204.xml"))
    d = M.wikitext_to_blocks(page["wikitext"])
    ol = [b for b in d["blocks"] if b["tag"] == "li-ol"]
    assert len(ol) == 4
    assert ol[0]["text"].startswith("Om PUL är tillämplig")
    assert d["blocks"][0]["text"] == "Huvudförfattare: Staffan Malmgren"
    assert "Användare:Staffan" in d["links"]
    joined = " ".join(b["text"] for b in d["blocks"])
    assert "datainspektionens föreskrifter (DIFS)" in joined
    assert "http://www.datainspektionen.se" not in joined


def test_parse_dump_namespace_filter():
    """wiki.py:115-131: pages in declared non-kept namespaces are
    dropped, Category/Kategori kept, the main page skipped."""
    pages = "".join(
        _read(f"{FIX}/downloaded/{n}.xml").decode("utf-8")
        for n in ("Allmän_domstol", "Anskaffarfrihet"))
    extra = """
    <page xmlns="http://www.mediawiki.org/xml/export-0.7/">
      <title>%s</title><ns>0</ns><id>%d</id>
      <revision><id>1</id><timestamp>2026-01-01T00:00:00Z</timestamp>
      <text xml:space="preserve">x</text></revision></page>"""
    dump = f"""<mediawiki xmlns="http://www.mediawiki.org/xml/export-0.7/">
      <siteinfo><namespaces>
        <namespace key="10">Mall</namespace>
        <namespace key="14">Kategori</namespace>
      </namespaces></siteinfo>
      {pages}
      {extra % ("Huvudsida", 1)}
      {extra % ("Mall:Infobox", 2)}
      {extra % ("Kategori:Processrätt", 3)}
    </mediawiki>"""
    got = M.parse_dump(dump.encode("utf-8"))
    assert [p["title"] for p in got] == [
        "Allmän domstol", "Anskaffarfrihet", "Kategori:Processrätt"]


def test_distributed_wiki_pages_df(spark):
    xml = _read(f"{FIX}/downloaded/Allmän_domstol.xml")
    df = spark.createDataFrame([(bytearray(xml),)] * 3, "xml binary")
    rows = M.wiki_pages_df(df).collect()
    assert len(rows) == 3
    r = rows[0]
    assert r.title == "Allmän domstol" and r.page_id == 2651
    assert list(r.categories) == ["Processrätt"]
    assert "Högsta_domstolen" in list(r.links)
    assert r.text.startswith("Allmän domstol är tingsrätt")


def test_format_detection_and_extract_dispatch(spark):
    """is_mediawiki_xml + the docformats extract stage routes wiki XML
    payloads through the decoder."""
    from ferenda_spark.operators.docformats import extract_documents
    xml = _read(f"{FIX}/downloaded/Anskaffarfrihet.xml")
    assert M.is_mediawiki_xml(xml)
    assert not M.is_mediawiki_xml(b"%PDF-1.4 ...")
    assert not M.is_mediawiki_xml(b"<html><body>no</body></html>")
    docs = spark.createDataFrame(
        [("https://w/Anskaffarfrihet", "wiki", bytearray(xml))],
        "url string, kind string, payload binary")
    out = extract_documents(docs).collect()
    assert all(r.ok and r.format == "wiki" for r in out)
    texts = [r.text for r in sorted(out, key=lambda r: r.seq)]
    assert texts[0].startswith("En tryckfrihetsrättsliga princip")
    assert len(texts) == 3
