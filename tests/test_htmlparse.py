"""Unit tests for the pure-Python parse/extract kernel — reference
semantics (file:line cites in ferenda_spark/htmlparse.py)."""

from ferenda_spark import htmlparse as hp


def test_normalize_space():
    # util.py:279-290 doctest
    assert hp.normalize_space(" This is  a long \n string\n") == "This is a long string"
    assert hp.normalize_space("a\xa0b") == "a b"


def test_parse_and_clean_drops_script_style_comments():
    tree = hp.parse_html(
        "<html><body><p>keep</p><script>drop()</script>"
        "<style>p{}</style><!-- gone --><font>x</font>"
        "<blink>unknown-tag</blink></body></html>"
    )
    cleaned = hp.clean_tree(tree)
    assert hp.as_plaintext(cleaned) == "keep"


def test_clean_keeps_whitelisted_attrs_only():
    tree = hp.parse_html('<div class="c" id="i" style="x" onclick="y" href="h">t</div>')
    cleaned = hp.clean_tree(tree)
    div = hp.find_first(cleaned, "div")
    assert div.attrs == {"class": "c", "id": "i", "href": "h"}


def test_as_plaintext_join_rule():
    # elements.py:233-245: filter empty children, single space between rest
    tree = hp.parse_html("<div><p>a  b</p><p>  </p><p>c</p>see <a>x</a>.</div>")
    cleaned = hp.clean_tree(tree)
    assert hp.as_plaintext(cleaned) == "a b c see x ."


def test_extract_plaintext_trailspace_quirk():
    # documentrepository.py:2078: ("a" "b",...) == ("ab",...) so <a>,<b>
    # get trailing space, <i>/<span> do not
    t1 = hp.find_first(hp.clean_tree(hp.parse_html("<p>x<a>link</a>y</p>")), "p")
    assert hp.extract_plaintext(t1) == "xlink y "
    t2 = hp.find_first(hp.clean_tree(hp.parse_html("<p>x<span>s</span>y</p>")), "p")
    assert hp.extract_plaintext(t2) == "xsy "


def test_charset_sniff_and_replace():
    data = '<html><head><meta charset="iso-8859-1"></head><body>r\xe9</body></html>'.encode("iso-8859-1")
    assert hp.sniff_charset(data) == "iso-8859-1"
    assert "ré" in hp.decode_html(data)
    # invalid utf-8 byte under default utf-8 -> U+FFFD, never an exception
    assert "�" in hp.decode_html(b"<p>bad \xff byte</p>")


def test_content_select_and_filters():
    tree = hp.parse_html(
        '<html><body><div class="toc">skip</div><div class="x"><p>hit</p></div>'
        "<script>s</script></body></html>"
    )
    body = hp.content_select(tree, "body", ("script", "div.toc"))
    assert hp.as_plaintext(hp.clean_tree(body)) == "hit"
    assert hp.content_select(tree, "article") is None


def test_doc_lang_fallback_chain():
    assert hp.doc_lang(hp.parse_html('<html lang="sv"></html>'), "en") == "sv"
    assert hp.doc_lang(hp.parse_html('<html xml:lang="de" lang="sv"></html>'), "en") == "de"
    assert hp.doc_lang(hp.parse_html("<html></html>"), "en") == "en"


def test_head_meta_property_pairs():
    tree = hp.parse_html(
        '<html><head><meta property="dcterms:issued" content="2014-01-01">'
        '<meta name="k" content="v"><meta charset="utf-8"></head></html>'
    )
    assert hp.head_meta(tree) == {"dcterms:issued": "2014-01-01", "k": "v"}


# ---------------------------------------------------------------------------
# fast-tokenizer vs html.parser differential gate (VERDICT r02 #3: the
# regex tokenizer replaced html.parser in the hot path at ~2.3x kernel
# speedup; parse_html_stdlib remains the behavioral reference twin)

def _tree_diff(a, b, path="/"):
    if a.tag != b.tag or a.attrs != b.attrs:
        return f"{path}: {a.tag}{a.attrs} != {b.tag}{b.attrs}"
    if len(a.children) != len(b.children):
        return f"{path}: child count {len(a.children)}!={len(b.children)}"
    for i, (x, y) in enumerate(zip(a.children, b.children)):
        if isinstance(x, str) != isinstance(y, str):
            return f"{path}[{i}]: node kind"
        if isinstance(x, str):
            if x != y:
                return f"{path}[{i}]: {x[:40]!r} != {y[:40]!r}"
        else:
            if (r := _tree_diff(x, y, f"{path}{x.tag}[{i}]/")):
                return r
    return None


def test_fast_parser_matches_stdlib_on_fixture_corpus():
    from ferenda_spark.fixtures.webpages import gen_rows
    for r in gen_rows(120):
        text = hp.decode_html(r["html"])
        assert _tree_diff(hp.parse_html_stdlib(text),
                          hp.parse_html(text)) is None


def test_fast_parser_matches_stdlib_on_reference_files():
    import glob
    import os
    files = sorted(
        glob.glob("/root/reference/test/files/**/*.html", recursive=True)
    )[:60] + sorted(
        glob.glob("/root/reference/test/files/**/*.xhtml", recursive=True)
    )[:60]
    if not files:
        import pytest
        pytest.skip("requires_reference: reference files not available")
    for f in files:
        if not os.path.isfile(f):
            continue
        text = hp.decode_html(open(f, "rb").read())
        assert _tree_diff(hp.parse_html_stdlib(text),
                          hp.parse_html(text)) is None, f


def test_fast_parser_matches_stdlib_on_edge_cases():
    cases = [
        "a &lt; b &amp; c &#65; &#x42; &nbsp; &unknown; d",
        "x < y and <3 hearts",
        "<p>a<!-- comment -->b</p>",
        "<script>var x = 1 &lt; 2; if (a<b) {}</script>after",
        "<SCRIPT>x</SCRIPT>tail", "<script>no close",
        "<style>p > a { color: red }</style>",
        "<p class='a b' id=\"z\" data-x=5 disabled>text</p>",
        "<img src=x.png alt='a&amp;b'/>",
        "<a href=http://x/y?a=1&b=2>link</a>",
        "<p>unclosed <b>bold <i>it</p><p>next</p>",
        "<!DOCTYPE html><html><body>hi</body></html>",
        "<?xml version='1.0'?><p>x</p>",
        "<![CDATA[ raw <stuff> ]]><p>y</p>",
        "<br><BR/><hr >", "<p>trailing text",
        "< p>not a tag</ p>", "<p>a</P>b", "<div><p>1</div>2",
        "text&#160;nbsp", "<p title=\"multi\nline\">x</p>",
        "<a b=c d>e</a>", "tag soup </b> stray end",
        "<x-custom foo=bar>inside</x-custom>",
        "<p>&amp;&amp;&AMP;</p>", "<script src='x'/>not raw",
        "nested <!-- <p>inside comment</p> --> out",
        "<!-->", "=a<!--", "<p<p>>",
    ]
    for c in cases:
        assert _tree_diff(hp.parse_html_stdlib(c),
                          hp.parse_html(c)) is None, repr(c)


def test_fast_parser_matches_stdlib_on_fuzz_soup():
    """Seeded token-soup fuzz.  Inputs with mismatched quote chars are
    excluded: html.parser's quote-insensitive start-tag scan diverges
    there by design (documented in htmlparse.py) and no two real
    parsers agree on such input either."""
    import random
    rng = random.Random(7)
    alphabet = list("<>/= abc&;#!-?p") + [
        "<p", "</p>", "&amp;", "<!--", "-->", "<script>", "</script>"]
    for _ in range(800):
        t = "".join(rng.choice(alphabet)
                    for _ in range(rng.randint(1, 80)))
        assert _tree_diff(hp.parse_html_stdlib(t),
                          hp.parse_html(t)) is None, repr(t)
