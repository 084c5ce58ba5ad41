"""The vectorized decode+parse+extract stage (SURVEY.md §2 S5/S6, P1-P9;
build plan M1-M3).

One ``mapInPandas`` pass over the ``web_pages`` table turns each url's
raw html bytes into everything downstream stages need, as flat/nested
COLUMNS — the Spark re-expression of the reference's per-document
``parse`` action (documentrepository.py:1100-1123 + decorators.py:279-290):

    web_pages(url, warc_ts, html, text, lang)
        -> extracted(url, warc_ts, alias, basefile, doc_uri, lang, title,
                     text, head_meta, rfc_header, sections, citations,
                     blocks, content_md5, n_chars, parse_ok, error)

Scale notes:
- the stage is a narrow map — NO shuffle; upstream ``repartition`` by
  url hash only when input files are skewed in size (pipeline.py).
- Arrow batches bound memory (spark.sql.execution.arrow.maxRecordsPerBatch);
  per-document Python (html parse, FSM) runs batched inside the UDF,
  never as row-at-a-time driver-dispatched UDF calls.
- errors never kill the job: a failed parse yields parse_ok=false +
  error message (quarantine row), preserving lineage per north_rule.
"""

from __future__ import annotations

import hashlib
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ferenda_spark import htmlparse as hp
from ferenda_spark.operators.citations import find_citations
from ferenda_spark.operators.fsm import w3c_structure
from ferenda_spark.operators.rfc_parse import parse_rfc_text
from ferenda_spark.sources import DEFAULT_REPO, REPOS
from ferenda_spark.sources.rfc_header import parse_rfc_header

# url -> (alias, basefile): inverse of canonical_uri
# (documentrepository.py:598-674 basefile_from_uri)
_URI_RE = re.compile(r"^https?://[^/]+/res/([^/]+)/(.+?)(?:#.*)?$")

SECTION_T = T.StructType([
    T.StructField("kind", T.StringType()),
    T.StructField("ordinal", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("parent_ordinal", T.StringType()),
    T.StructField("text", T.StringType()),
])

CITATION_T = T.StructType([
    T.StructField("section_ordinal", T.StringType()),
    T.StructField("span", T.StringType()),
    T.StructField("kind", T.StringType()),
    T.StructField("url", T.StringType()),
    T.StructField("rfcnum", T.StringType()),
    T.StructField("secref", T.StringType()),
])

RFC_HEADER_T = T.StructType([
    T.StructField("publisher", T.StringType()),
    T.StructField("identifier", T.StringType()),
    T.StructField("category", T.StringType()),
    T.StructField("issn", T.StringType()),
    T.StructField("issued", T.StringType()),
    T.StructField("creators", T.ArrayType(T.StringType())),
    T.StructField("rightsholders", T.ArrayType(T.StringType())),
    T.StructField("updates", T.ArrayType(T.StringType())),
    T.StructField("obsoletes", T.ArrayType(T.StringType())),
    T.StructField("rdftype", T.StringType()),      # BCP/FYI overrides
    T.StructField("bcpnumber", T.StringType()),
    T.StructField("stdnumber", T.StringType()),
    T.StructField("fyinumber", T.StringType()),
])

BLOCK_T = T.StructType([
    T.StructField("path", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
])

EXTRACTED_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("warc_ts", T.TimestampType()),
    T.StructField("alias", T.StringType()),
    T.StructField("basefile", T.StringType()),
    T.StructField("doc_uri", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("short_title", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("head_meta", T.MapType(T.StringType(), T.StringType())),
    T.StructField("rfc_header", RFC_HEADER_T),
    T.StructField("sections", T.ArrayType(SECTION_T)),
    T.StructField("citations", T.ArrayType(CITATION_T)),
    T.StructField("blocks", T.ArrayType(BLOCK_T)),
    T.StructField("content_md5", T.StringType()),
    T.StructField("n_chars", T.IntegerType()),
    T.StructField("parse_ok", T.BooleanType()),
    T.StructField("error", T.StringType()),
])


def url_to_repo(url: str) -> tuple[str, str]:
    m = _URI_RE.match(url)
    if m and m.group(1) in REPOS:
        return m.group(1), m.group(2)
    return "base", url.rsplit("/", 1)[-1] or url


def _w3c_issued(raw) -> str | None:
    """dcterms:issued for W3C specs: the h2/h3 'W3C Recommendation
    <date>' header in the (unfiltered) tree, date parsed as
    '%d %B %Y' / '%d %b %Y' -> ISO (w3c.py:225-249
    parse_metadata_from_soup).  Returns None (no triple) when absent or
    unparseable, like the reference's warning path."""
    import datetime

    def walk(node):
        for c in node.children:
            if isinstance(c, hp.Node):
                if c.tag in ("h2", "h3"):
                    yield c
                yield from walk(c)

    for h in walk(raw):
        text = hp.as_plaintext(h)
        if not re.search(r"W3C\s+Recommendation,?\s+", text):
            continue
        m = re.search(r"(\d+)[ \-](\w+),?[ \-](\d{4})", " ".join(text.split()))
        if not m:
            return None
        datestr = " ".join(m.groups())
        for fmt in ("%d %B %Y", "%d %b %Y"):
            try:
                return datetime.datetime.strptime(datestr, fmt) \
                    .date().isoformat()
            except ValueError:
                continue
        return None
    return None


def extract_one(url: str, html: bytes, with_blocks: bool = True) -> dict:
    """Per-document kernel.  Pure function; unit-testable without Spark.

    ``with_blocks=False`` skips the flat-tree projection — callers that
    only consume the triple-lift columns prune it (projection pushdown
    INTO the UDF; Catalyst cannot see through mapInPandas)."""
    alias, basefile = url_to_repo(url)
    repo = REPOS.get(alias, DEFAULT_REPO)
    decoded = hp.decode_html(html)
    raw = hp.parse_html(decoded)

    lang = hp.doc_lang(raw, repo["lang"])
    title = hp.doc_title(raw)
    meta = hp.head_meta(raw)

    content = hp.content_select(raw, repo["content_selector"],
                                repo["filter_selectors"])
    if content is None:
        raise ValueError(f"content selector {repo['content_selector']!r} "
                         f"matched nothing")
    cleaned = hp.clean_tree(content)
    text = hp.as_plaintext(cleaned)
    blocks = hp.blocks(cleaned) if with_blocks else []

    sections: list[dict] = []
    citations: list[dict] = []
    rfc_header = None
    short_title = None
    doc_uri = url.split("#")[0]

    if repo["structure"] == "rfc":
        pre = hp.find_first(cleaned, "pre")
        if pre is not None:
            pre_text = "".join(c for c in pre.children if isinstance(c, str))
            parsed = parse_rfc_text(pre_text, basefile)
            if not parsed["ok"]:
                raise ValueError(f"rfc parse failed: {parsed['error']}")
            rfc_header = parse_rfc_header(parsed["header"])
            if parsed["title"]:
                title = hp.normalize_space(parsed["title"])
            short_title = parsed["short_title"]
            sections = parsed["sections"]
            # the header's RFC number overrides the crawl basefile for
            # the canonical uri (rfc.py:483-488 realid)
            if rfc_header["identifier"]:
                realid = re.sub(r"\D", "", rfc_header["identifier"])
                if realid and (m := _URI_RE.match(url)):
                    doc_uri = url[:m.start(2)] + realid
    elif repo["structure"] == "w3c":
        chunks = [
            (c.tag, hp.as_plaintext(c))
            for c in cleaned.children
            if isinstance(c, hp.Node)
        ]
        sections = w3c_structure(chunks)
        # issued comes from the UNFILTERED tree: the date header lives
        # inside div.head, which the content selector drops (w3c.py:225)
        if issued := _w3c_issued(raw):
            meta = dict(meta)
            meta["dcterms:issued"] = issued

    # citations: per-section text when structure exists, else whole doc;
    # the active grammar set is repo config, like the reference's
    # per-DocumentRepository CitationParser (rfc.py:429-451)
    grammars = repo.get("citation_grammars", ("url",))
    # document-scoped recognizer memory: learned law names ("samma lag",
    # named-law backrefs) persist across section chunks of ONE document,
    # like the reference's per-parse LegalRef state — never across
    # documents (ADVICE r02: latent reset-per-section bug)
    law_names: dict[str, str] = {}

    def _find(chunk: str) -> list[dict]:
        found = find_citations(chunk, grammars)
        # legal references carry their minted URI in the url slot
        # (kind 'sfs'); triples lift passes it through like a url
        if "sfs" in grammars:
            from ferenda_spark.operators.sfs import find_sfs_refs
            found += [{"span": r["span"], "kind": "sfs", "url": r["uri"],
                       "rfcnum": None, "secref": None}
                      for r in find_sfs_refs(chunk, law_names=law_names)]
        if "svlegal" in grammars:
            from ferenda_spark.operators.svlegal import (
                find_avg_refs, find_forarbete_refs, find_rattsfall_refs)
            for f in (find_rattsfall_refs, find_forarbete_refs,
                      find_avg_refs):
                found += [{"span": r["span"], "kind": "sfs",
                           "url": r["uri"], "rfcnum": None,
                           "secref": None} for f_r in [f(chunk)]
                          for r in f_r]
        return found

    if sections:
        for s in sections:
            for c in _find(hp.normalize_space(s["text"])):
                citations.append({"section_ordinal": s["ordinal"], **c})
    else:
        for c in _find(text):
            citations.append({"section_ordinal": None, **c})

    return {
        "alias": alias,
        "basefile": basefile,
        "doc_uri": doc_uri,
        "lang": lang,
        "title": title,
        "short_title": short_title,
        "text": text,
        "head_meta": meta,
        "rfc_header": rfc_header,
        "sections": sections,
        "citations": citations,
        "blocks": blocks,
    }


def _extract_batches(batches: Iterator[pd.DataFrame],
                     fields: list[str] | None = None) -> Iterator[pd.DataFrame]:
    names = (fields if fields is not None
             else [f.name for f in EXTRACTED_SCHEMA.fields])
    with_blocks = "blocks" in names
    for pdf in batches:
        # column-wise accumulation: building pandas from dict-of-lists
        # avoids per-row dict lookups in the from-records path
        cols: dict[str, list] = {n: [] for n in names}
        for url, warc_ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
            data = bytes(html) if html is not None else b""
            row = {
                "url": url, "warc_ts": warc_ts,
                "content_md5": hashlib.md5(data).hexdigest(),
                "parse_ok": True, "error": None,
            }
            try:
                row.update(extract_one(url, data, with_blocks=with_blocks))
            except Exception as e:  # quarantine, never fail the batch
                alias, basefile = url_to_repo(url)
                row.update({
                    "alias": alias, "basefile": basefile,
                    "doc_uri": url, "lang": None, "title": None,
                    "short_title": None, "text": None, "head_meta": {},
                    "rfc_header": None, "sections": [], "citations": [],
                    "blocks": [], "parse_ok": False,
                    "error": f"{type(e).__name__}: {e}",
                })
            row["n_chars"] = len(row["text"]) if row["text"] else 0
            for n in names:
                cols[n].append(row[n])
        yield pd.DataFrame(cols, columns=names)


def extract(web_pages: DataFrame,
            fields: list[str] | None = None) -> DataFrame:
    """web_pages -> extracted.  Narrow map; no shuffle.

    ``fields`` prunes the OUTPUT columns inside the UDF (subset of
    EXTRACTED_SCHEMA names) — pass only what downstream consumes; the
    nested blocks/text columns dominate Arrow transfer cost."""
    if fields is None:
        schema = EXTRACTED_SCHEMA
    else:
        by_name = {f.name: f for f in EXTRACTED_SCHEMA.fields}
        fields = [f.name for f in EXTRACTED_SCHEMA.fields if f.name in set(fields)]
        schema = T.StructType([by_name[n] for n in fields])

    def run(batches):
        return _extract_batches(batches, fields)

    cols = ["url", "warc_ts", "html"]
    return web_pages.select(*cols).mapInPandas(run, schema)
