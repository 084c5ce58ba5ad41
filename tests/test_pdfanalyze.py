"""PDF layout-analysis parity gates (operators/pdfanalyze.py) against
the reference's OWN committed fixture and pinned expectations
(reference: test/testPDFAnalyze.py, fixture
test/files/pdfanalyze/lipsum.xml — poppler pdftohtml -xml output, the
same intermediate the reference PDFAnalyzer consumes)."""

from collections import Counter

import pytest

from ferenda_spark.operators import pdfanalyze as A

LIPSUM = "/root/reference/test/files/pdfanalyze/lipsum.xml"

pytestmark = pytest.mark.requires_reference(LIPSUM)


@pytest.fixture(scope="module")
def lipsum():
    with open(LIPSUM, "rb") as fh:
        return A.parse_pdf2xml(fh.read(), doc_id="lipsum")


@pytest.fixture(scope="module")
def lipsum_dfs(spark, lipsum):
    pages, boxes = lipsum
    return (spark.createDataFrame(pages, A.PAGE_SCHEMA),
            spark.createDataFrame(boxes, A.BOX_SCHEMA))


def test_parser_counters_match_reference(lipsum):
    """The counter-level pins from testPDFAnalyze.test_hcounters /
    test_vcounters — these only pass if the box GLUING (empty skip,
    footnote sup merge) matches the reference reader."""
    pages, boxes = lipsum
    assert [p["page"] for p in pages] == [1, 2, 3]
    assert pages[0]["width"] == 892 and pages[0]["height"] == 1262
    odd = [b for b in boxes if b["page"] % 2 == 1]
    even = [b for b in boxes if b["page"] % 2 == 0]
    assert set(b["left"] for b in odd) == {135, 775, 778}
    assert set(b["left"] for b in even) == {108}
    rightc = Counter(b["right"] for b in odd)
    assert rightc.most_common(1)[0][0] == 784
    # vertical counters are char-weighted
    botc = Counter()
    topc = Counter()
    for b in boxes:
        botc[b["bottom"]] += b["nchars"]
        topc[b["top"]] += b["nchars"]
    assert botc[76] == 22
    assert topc[1167] == 3


def test_parser_stylecounter_matches_reference(lipsum):
    """testPDFAnalyze.test_stylecounters: char-weighted (family, size)
    histogram over pages 2-3, subset prefix stripped."""
    _, boxes = lipsum
    c = Counter()
    for b in boxes:
        if b["page"] >= 2:
            c[(b["family"], b["size"])] += b["nchars"]
    assert dict(c) == {("Comic Sans MS", 14): 5922,
                       ("Cambria,Bold", 14): 133,
                       ("Cambria,Bold", 17): 128,
                       ("Cambria,Bold", 19): 61}


def test_metrics_parity_lipsum_startpage1(lipsum_dfs):
    """testPDFAnalyze.test_margins: the full metrics dict over pages
    2-3 (reference startpage=1), computed by the Spark DataFrame
    analysis."""
    pages, boxes = lipsum_dfs
    got = A.metrics_df(boxes.where("page >= 2"),
                       pages.where("page >= 2")).collect()
    assert len(got) == 1
    r = got[0].asDict()
    assert {k: r[k] for k in
            ("leftmargin", "leftmargin_even", "rightmargin",
             "rightmargin_even", "topmargin", "bottommargin",
             "pagewidth", "pageheight", "scanned_source")} == {
        "leftmargin": 135, "leftmargin_even": 108,
        "rightmargin": 760, "rightmargin_even": 760,
        "topmargin": 53, "bottommargin": 1149,
        "pagewidth": 892, "pageheight": 1262,
        "scanned_source": False}
    assert (r["default_family"], r["default_size"]) == ("Comic Sans MS", 14)
    assert (r["h1_family"], r["h1_size"]) == ("Cambria,Bold", 19)
    assert (r["h2_family"], r["h2_size"]) == ("Cambria,Bold", 17)
    assert (r["h3_family"], r["h3_size"]) == ("Cambria,Bold", 14)


def test_metrics_parity_single_even_page(lipsum_dfs):
    """testPDFAnalyze.test_margins_subdocument: page 2 only — odd-page
    margins must come out ABSENT (null), even-page ones unchanged."""
    pages, boxes = lipsum_dfs
    r = A.metrics_df(boxes.where("page = 2"),
                     pages.where("page = 2")).collect()[0].asDict()
    assert r["leftmargin"] is None and r["rightmargin"] is None
    assert r["leftmargin_even"] == 108 and r["rightmargin_even"] == 760
    assert r["topmargin"] == 53 and r["bottommargin"] == 1149
    assert (r["h1_family"], r["h1_size"]) == ("Cambria,Bold", 19)


def test_header_threshold_sensitivity(lipsum_dfs):
    """testPDFAnalyze.test_analyze_vmargins: doubling the header
    threshold to 0.004 moves the header zone from 53 to 107 on the
    full document."""
    pages, boxes = lipsum_dfs
    lo = A.margin_metrics_df(boxes, pages).collect()[0]
    hi = A.margin_metrics_df(boxes, pages,
                             header_threshold=0.004).collect()[0]
    assert lo.topmargin == 53 and lo.bottommargin == 1149
    assert hi.topmargin == 107 and hi.bottommargin == 1149


def test_full_doc_hmargins(lipsum_dfs):
    """testPDFAnalyze.test_analyze_hmargins: all 3 pages — odd-page
    rightmargin is 770 here (vs 760 for pages 2-3 alone)."""
    pages, boxes = lipsum_dfs
    r = A.margin_metrics_df(boxes, pages).collect()[0]
    assert (r.leftmargin, r.leftmargin_even, r.rightmargin,
            r.rightmargin_even, r.pagewidth) == (135, 108, 770, 760, 892)


def test_classify_boxes_roles(spark, lipsum_dfs):
    """Heading classification (the FSM-stage input): every box gets a
    role; the Cambria,Bold styles map to h1-h3, Comic Sans to default,
    the page-number boxes at the very bottom to pagefooter."""
    pages, boxes = lipsum_dfs
    m = A.metrics_df(boxes.where("page >= 2"), pages.where("page >= 2"))
    roles = A.classify_boxes(boxes.where("page >= 2"), m)
    got = {(r.family, r.size, r.role) for r in roles.collect()}
    assert ("Cambria,Bold", 19, "h1") in got
    assert ("Cambria,Bold", 17, "h2") in got
    assert ("Cambria,Bold", 14, "h3") in got
    assert ("Comic Sans MS", 14, "default") in got
    # the page numbers (top 1167 > bottommargin 1149) are footer boxes
    foot = roles.where("top >= 1167").select("role").distinct().collect()
    assert [r.role for r in foot] == ["pagefooter"]


def test_distributed_xml_ingest_matches_driver_parse(spark, lipsum):
    """boxes_from_xml_df over a 2-doc frame reproduces the driver-side
    parse per doc, with doc_id provenance."""
    xml = open(LIPSUM, "rb").read()
    df = spark.createDataFrame([("a", bytearray(xml)),
                                ("b", bytearray(xml))],
                               "doc_id string, xml binary")
    pages, boxes = A.boxes_from_xml_df(df)
    assert pages.count() == 6
    bx = boxes.collect()
    _, want = lipsum
    for doc in ("a", "b"):
        got = sorted([(r.page, r.left, r.top, r.right, r.bottom,
                       r.nchars, r.family, r.size)
                      for r in bx if r.doc_id == doc])
        ref = sorted([(b["page"], b["left"], b["top"], b["right"],
                       b["bottom"], b["nchars"], b["family"], b["size"])
                      for b in want])
        assert got == ref
