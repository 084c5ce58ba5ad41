"""Columnar scalar functions.  Everything is a Column expression —
JVM-side, inside whole-stage codegen; nothing here is a Python UDF.

Where the reference's function is inherently iterative (roman numerals)
the expression is a bounded chain (numerals are <= 15 chars), still
pure columnar.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# normalize_space (util.py:279-290): collapse all whitespace runs
# (incl. NBSP) to single spaces and strip ends.

# Java regex \\s is ASCII-only; Python \\s / str.isspace() include NBSP
# and the Unicode spaces.  This EXPLICIT class is Python's
# str.isspace() set, so the column expressions and the Python twins
# agree on every input (property-tested in tests/test_properties.py).
WS_CLASS = ("[\\t\\n\\x0b\\f\\r \\x1c-\\x1f\\x85\\u00a0\\u1680"
            "\\u2000-\\u200a\\u2028\\u2029\\u202f\\u205f\\u3000]")
_WS = WS_CLASS + "+"


def normalize_space(col: Column) -> Column:
    return F.trim(F.regexp_replace(col, _WS, " "))


def normalize_space_py(s: str) -> str:
    return " ".join(s.replace("\xa0", " ").split())


# ---------------------------------------------------------------------------
# title_sortkey (util.py:722-731): lowercase, drop leading "the ",
# remove non-word chars, collapse spaces.

def title_sortkey(col: Column) -> Column:
    out = F.lower(normalize_space(col))
    out = F.regexp_replace(out, "^the ", "")
    out = F.regexp_replace(out, "[^a-z0-9 ]", "")
    return F.trim(F.regexp_replace(out, " +", " "))


def title_sortkey_py(s: str) -> str:
    out = normalize_space_py(s).lower()
    out = re.sub("^the ", "", out)
    out = re.sub("[^a-z0-9 ]", "", out)
    return re.sub(" +", " ", out).strip()


# ---------------------------------------------------------------------------
# natural sort key (split_numalpha, util.py:207-237): "RFC 10" < "RFC 9"
# under plain string sort; fixed with LENGTH-THEN-VALUE encoding of every
# digit run — each run is canonicalized (leading zeros stripped) and
# prefixed with its zero-padded length, so arbitrarily long numbers order
# correctly (a 13-digit id sorts after every 12-digit id; fixed-width
# zfill either truncates or mis-sorts past its width).

_NSK_LEN = 4  # length-field digits: runs up to 10^9999-1 order correctly


def natural_sort_key(col: Column) -> Column:
    # regexp_replace cannot compute a derived replacement, so tokenize
    # into digit/non-digit runs and rewrite the numeric ones.
    toks = F.regexp_extract_all(col, F.lit("(\\d+|\\D+)"), 1)
    canon = lambda t: F.regexp_replace(t, "^0+(?=\\d)", "")  # noqa: E731
    return F.array_join(
        F.transform(
            toks,
            lambda t: F.when(
                t.rlike("^\\d+$"),
                F.concat(F.lpad(F.length(canon(t)).cast("string"),
                                _NSK_LEN, "0"), canon(t)))
            .otherwise(t),
        ),
        "",
    )


def natural_sort_key_py(s: str) -> str:
    # ASCII-only digit class (re.ASCII): Java's \d in the Spark twin is
    # ASCII-only, so non-ASCII Unicode digits (e.g. U+16AC0 MRO DIGIT
    # ZERO) must pass through verbatim on BOTH sides.  The reference's
    # split_numalpha operates on ASCII identifiers, so ASCII-only is the
    # intended contract (and matches DuckDB's regexp semantics too).
    def enc(m: "re.Match[str]") -> str:
        v = m.group(0).lstrip("0") or "0"
        return f"{len(v):0{_NSK_LEN}d}{v}"
    return re.sub(r"\d+", enc, s, flags=re.ASCII)


# ---------------------------------------------------------------------------
# roman numerals (from_roman, util.py:693-720).  Bounded expression:
# value = sum over chars of V(c), minus 2*V(c) when followed by a
# bigger value (subtractive notation) — computed with one transform
# over the char array.

_ROMAN = {"i": 1, "v": 5, "x": 10, "l": 50, "c": 100, "d": 500, "m": 1000}


def from_roman(col: Column) -> Column:
    lc = F.lower(col)
    chars = F.split(lc, "")
    val_map = F.create_map(*[F.lit(x) for kv in _ROMAN.items() for x in kv])
    return F.aggregate(
        F.sequence(F.lit(0), F.length(lc) - 1),
        F.lit(0),
        lambda acc, i: acc + F.coalesce(
            F.when(
                F.coalesce(
                    F.element_at(val_map, F.element_at(chars, i + 1)),
                    F.lit(0))
                < F.coalesce(
                    F.element_at(val_map, F.try_element_at(chars, i + 2)),
                    F.lit(0)),
                -F.coalesce(
                    F.element_at(val_map, F.element_at(chars, i + 1)),
                    F.lit(0)))
            .otherwise(F.coalesce(
                F.element_at(val_map, F.element_at(chars, i + 1)),
                F.lit(0))),
            F.lit(0)),
    )


def from_roman_py(s: str) -> int:
    s = s.lower()
    total = 0
    for i, c in enumerate(s):
        v = _ROMAN.get(c, 0)
        nxt = _ROMAN.get(s[i + 1], 0) if i + 1 < len(s) else 0
        total += -v if v < nxt else v
    return total


# ---------------------------------------------------------------------------
# misc string helpers

def ucfirst(col: Column) -> Column:
    """util.py:451-457: first char upper, rest untouched."""
    return F.concat(F.upper(F.substring(col, 1, 1)), F.substring(col, 2, 2**31 - 1))


def uri_leaf(col: Column) -> Column:
    """util.py:625-640: last path/fragment segment of a URI."""
    return F.element_at(F.split(col, "[/#]"), -1)


def uri_leaf_py(s: str) -> str:
    return re.split("[/#]", s)[-1]


def slugify(col: Column, space_repl: str = "+") -> Column:
    """COIN slug transform default (thirdparty/coin.py:60-91)."""
    return F.regexp_replace(F.lower(col), "\\s+", space_repl)


def slugify_py(s: str, space_repl: str = "+") -> str:
    return re.sub(r"\s+", space_repl, s.lower())


def base27_encode_py(n: int) -> str:
    """util.py:839-845: 0 -> '', 1..26 -> a..z (legal-doc appendices)."""
    out = ""
    while n:
        n, rem = divmod(n - 1, 26)
        out = chr(ord("a") + rem) + out
    return out


# ---------------------------------------------------------------------------
# dataset URIs (documentrepository.py:612-647 dataset_uri): the URI of
# a docrepo's dataset, optionally subset by ?param=value and/or the
# /feed[.atom] variant.

def dataset_uri(base: str, alias_col: Column, param: str | None = None,
                value_col: Column | None = None,
                feed: bool | str = False) -> Column:
    uri = F.concat(F.lit(base + "dataset/"), alias_col)
    if feed:
        suffix = "/feed" + (feed if isinstance(feed, str) else "")
        uri = F.concat(uri, F.lit(suffix))
    if param is not None and value_col is not None:
        # url_encode is form-encoding (space -> '+'); rewrite to %20 to
        # match urllib.parse.quote (the reference's encoder).  Values
        # containing '/' encode as %2F here (quote's default keeps '/';
        # the twins agree on everything else — documented difference)
        enc = F.replace(F.url_encode(value_col), F.lit("+"), F.lit("%20"))
        uri = F.concat(uri, F.lit(f"?{param}="), enc)
    return uri


def dataset_uri_py(base: str, alias: str, param: str | None = None,
                   value: str | None = None,
                   feed: bool | str = False) -> str:
    from urllib.parse import quote
    uri = f"{base}dataset/{alias}"
    if feed:
        uri += "/feed" + (feed if isinstance(feed, str) else "")
    if param and value:
        uri += f"?{param}={quote(value, safe='')}"
    return uri


# ---------------------------------------------------------------------------
# facet selectors (facet.py:128-280)

def year_of(col: Column) -> Column:
    """facet.py:156-175 year(): works for date, timestamp and ISO
    strings of any precision (len-dispatched in the reference)."""
    return F.year(F.to_timestamp(F.substring(col.cast("string"), 1, 10)))


def firstletter(col: Column) -> Column:
    """facet.py:210-230."""
    return F.lower(F.substring(F.trim(col), 1, 1))


# ---------------------------------------------------------------------------
# Swedish collation key (documentrepository.py:2686-2688 sorts TOC
# selector values with locale.strxfrm under collate_locale, which the
# reference pins to sv_SE — swedishlegalsource.py:116-121).  This is a
# deterministic strxfrm-equivalent for that locale: primary weights
# order a..z with v = w folded (glibc sv_SE keeps the pre-2006
# SS collation where W is a variant of V), then å < ä < ö after z;
# common foreign letters fold to their Swedish primary (é->e, ü->y,
# æ->ä, ø->ö); everything else (digits, punctuation) keeps its
# codepoint, sorting before letters like strxfrm does for ASCII.
# Ties at the primary level (v/w, e/é, ...) break on the original
# string, appended after a '|' separator.  Pure translate() — one
# codegen expression, and the DuckDB oracle twin is the same
# translate() call (SV_COLLATE_SQL).

_SV_SRC = "abcdefghijklmnopqrstuvwxyzåäö" + "éèêëáàâüæø"
_SV_DST = (
    "ABCDEFGHIJKLMNOPQRSTU"  # a..u
    "V" "V"                  # v and w share the primary weight
    "WXY"                    # x y z
    "Z[\\"                   # å ä ö (after z in ASCII order)
    "EEEE" "AAA"             # é è ê ë / á à â fold to e / a
    "X"                      # ü sorts as y
    "[\\")                   # æ -> ä, ø -> ö
assert len(_SV_SRC) == len(_SV_DST)


def sv_collate_key(col: Column) -> Column:
    return F.concat(F.translate(F.lower(col), _SV_SRC, _SV_DST),
                    F.lit("|"), col)


def sv_collate_key_py(s: str) -> str:
    table = str.maketrans(_SV_SRC, _SV_DST)
    return s.lower().translate(table) + "|" + s


SV_COLLATE_SQL = ("translate(lower({col}), '" + _SV_SRC + "', '"
                  + _SV_DST + "') || '|' || {col}")
