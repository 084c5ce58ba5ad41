"""P5 engine parity: the generic FSMParser re-runs the reference's OWN
FSM test grammar (testFSMParser.py:56-323) over its committed fixture
inputs (test/files/fsmparser/*.txt) and must produce structurally equal
element trees to the committed *.xml goldens — including the dynamic
callable-transition nested-list case and the two FSM-error fixtures."""

from __future__ import annotations

import os
import re
import xml.etree.ElementTree as ET

import pytest

from ferenda_spark.operators.fsm import Elem, FSMError, FSMParser, recurses
from ferenda_spark.operators.rfc_parse import rfc_paragraphs

DIR = "/root/reference/test/files/fsmparser"

pytestmark = pytest.mark.requires_reference(DIR)


class N(Elem):
    """Generic node: kind = tag, attrs in .ordinal/.title/.lines[0]."""

    def __init__(self, tag, **attrs):
        super().__init__(kind=tag)
        self.attrs = {k: v for k, v in attrs.items() if v is not None}


_SECTIONSTART = re.compile(r"^(\d[\.\d]*) +(.*[^\.])$").match


def _analyze_sectionstart(chunk):
    m = _SECTIONSTART(chunk)
    if m:
        return m.group(1).rstrip("."), m.group(2).strip()
    return None, chunk


def _analyze_listitem(chunk):
    if m := re.match(r"^(\d+)([\.\)]) +", chunk):
        lt = ("decimal-leading-zero" if chunk.startswith("0")
              else "decimal")
        return (lt, m.group(1), m.group(2), chunk[m.end():])
    if m := re.match(r"^([IVXivx]+)([\.\)]) +", chunk):
        lt = "lower-roman" if chunk[0].islower() else "upper-roman"
        return (lt, m.group(1), m.group(2), chunk[m.end():])
    if m := re.match(r"^([A-Za-z])([\.\)]) +", chunk):
        lt = "lower-alpha" if chunk[0].islower() else "upper-alpha"
        return (lt, m.group(1), m.group(2), chunk[m.end():])
    if chunk.startswith("* "):
        return ("disc", None, None, chunk)
    if chunk.startswith("- "):
        return ("dash", None, None, chunk)
    return (None, None, None, chunk)


def build_parser() -> FSMParser:
    """The reference test grammar (testFSMParser.py), re-expressed."""

    def is_header(p):
        s = p.reader.peek()
        return len(s) > 100 and not s.endswith(".")

    def is_section(p):
        return _segments(_analyze_sectionstart(p.reader.peek())[0]) == 1

    def is_subsection(p):
        return _segments(_analyze_sectionstart(p.reader.peek())[0]) == 2

    def is_subsubsection(p):
        return _segments(_analyze_sectionstart(p.reader.peek())[0]) == 3

    def is_preformatted(p):
        return "   " in p.reader.peek()

    def is_li_decimal(p):
        return _analyze_listitem(p.reader.peek())[0] in (
            "decimal", "decimal-leading-zero")

    def is_li_alpha(p):
        return _analyze_listitem(p.reader.peek())[0] in (
            "lower-alpha", "upper-alpha")

    def is_li_roman(p):
        return _analyze_listitem(p.reader.peek())[0] in (
            "lower-roman", "upper-roman")

    def is_state_a(p):
        return p.reader.peek().startswith("State A:")

    def is_state_b(p):
        return p.reader.peek().startswith("State B:")

    def is_state_c(p):
        return p.reader.peek().startswith("State C:")

    def is_paragraph(p):
        return len(p.reader.peek()) > 6

    def _segments(s):
        return (s is not None) and len([x for x in s.split(".") if x])

    # dynamic transition: a different list type under a listitem opens a
    # sublist unless that list type is already open further up
    def sublist_or_parent(symbol, state_stack):
        if symbol == is_li_alpha and "ol-alpha" not in state_stack:
            return (make_ol_alpha, "ol-alpha")
        if symbol == is_li_roman and "ol-roman" not in state_stack:
            return (make_ol_roman, "ol-roman")
        if symbol == is_li_decimal and "ol-decimal" not in state_stack:
            return (make_ol_roman, "ol-roman")
        return (False, None)

    @recurses("body")
    def make_body(p):
        return p.make_children(N("Body"))

    def _make_sec(tag, state):
        @recurses(state)
        def make(p):
            ordinal, title = _analyze_sectionstart(p.reader.next())
            return p.make_children(N(tag, ordinal=ordinal, title=title))
        return make

    make_section = _make_sec("Section", "section")
    make_subsection = _make_sec("Subsection", "subsection")
    make_subsubsection = _make_sec("Subsubsection", "subsubsection")

    def make_paragraph(p):
        n = N("Paragraph")
        n.append(p.reader.next().strip())
        return n

    def make_preformatted(p):
        n = N("Preformatted")
        n.append(p.reader.next())
        return n

    def _make_ol(state):
        @recurses(state)
        def make(p):
            listtype = _analyze_listitem(p.reader.peek())[0]
            ol = N("OrderedList", type=listtype)
            ol.append(p.make_child(make_listitem, "listitem"))
            return p.make_children(ol)
        return make

    make_ol_decimal = _make_ol("ol-decimal")
    make_ol_alpha = _make_ol("ol-alpha")
    make_ol_roman = _make_ol("ol-roman")

    @recurses("listitem")
    def make_listitem(p):
        chunk = p.reader.next()
        _, ordinal, _, rest = _analyze_listitem(chunk)
        li = N("ListItem", ordinal=ordinal)
        li.append(rest)
        return p.make_children(li)

    def _make_state(sid):
        def make(p):
            n = N("Paragraph", id=sid)
            n.append(p.reader.next().strip())
            return n
        return make

    make_state_a = _make_state("state-a")
    make_state_b = _make_state("state-b")
    make_state_c = _make_state("state-c")

    p = FSMParser()
    p.set_recognizers(is_li_decimal, is_li_roman, is_li_alpha, is_header,
                      is_section, is_subsection, is_subsubsection,
                      is_preformatted, is_state_a, is_state_b, is_state_c,
                      is_paragraph)
    p.set_transitions({
        ("body", is_paragraph): (make_paragraph, None),
        ("body", is_section): (make_section, "section"),
        ("body", is_state_a): (make_state_a, "state-a"),
        ("state-a", is_state_b): (make_state_b, "state-b"),
        ("state-b", is_state_c): (make_state_c, "state-c"),
        ("state-c", is_section): (False, None),
        ("section", is_paragraph): (make_paragraph, None),
        ("section", is_subsection): (make_subsection, "subsection"),
        ("subsection", is_paragraph): (make_paragraph, None),
        ("subsection", is_subsection): (False, None),
        ("subsection", is_state_a): (False, "body"),
        ("subsection", is_subsubsection): (make_subsubsection,
                                           "subsubsection"),
        ("subsubsection", is_paragraph): (make_paragraph, None),
        ("subsubsection", is_section): (False, None),
        ("subsection", is_section): (False, None),
        ("section", is_section): (False, None),
        ("body", is_li_decimal): (make_ol_decimal, "ol-decimal"),
        ("ol-decimal", is_li_decimal): (make_listitem, "listitem"),
        ("ol-decimal", is_li_alpha): (make_ol_alpha, "ol-alpha"),
        ("ol-alpha", is_li_alpha): (make_listitem, "listitem"),
        ("ol-alpha", is_li_roman): (make_ol_roman, "ol-roman"),
        ("ol-roman", is_li_roman): (make_listitem, "listitem"),
        ("ol-roman", is_li_alpha): (False, None),
        ("ol-alpha", is_li_decimal): (False, None),
        ("listitem", is_li_alpha): sublist_or_parent,
        ("listitem", is_li_roman): sublist_or_parent,
        ("listitem", is_li_decimal): sublist_or_parent,
    })
    p.initial_state = "body"
    p.initial_constructor = make_body
    return p


def to_shape(node):
    if isinstance(node, str):
        return node.rstrip("\n")
    return (node.kind, dict(node.attrs),
            [to_shape(c) for c in node])


def xml_shape(el):
    tag = el.tag
    if tag == "str":
        return (el.text or "").rstrip("\n")
    return (tag, dict(el.attrib),
            [xml_shape(c) for c in el])


GOLDENS = sorted(f[:-4] for f in os.listdir(DIR)
                 if f.endswith(".xml")) if os.path.isdir(DIR) else []


@pytest.mark.parametrize("name", GOLDENS)
def test_fsm_grammar_golden(name):
    text = open(f"{DIR}/{name}.txt", encoding="utf-8").read()
    body = build_parser().parse(iter(rfc_paragraphs(text)))
    want = xml_shape(ET.fromstring(open(f"{DIR}/{name}.xml",
                                        encoding="utf-8").read()))
    assert to_shape(body) == want


@pytest.mark.parametrize("name", ["no-recognizer.tx", "no-transition.tx"])
def test_fsm_error_fixtures(name):
    text = open(f"{DIR}/{name}", encoding="utf-8").read()
    with pytest.raises(FSMError):
        build_parser().parse(iter(rfc_paragraphs(text)))
