"""End-to-end Spark gate: web_pages -> extract -> triples, compared
against golden fixtures (FIXTURES.md §3/§4).  This mirrors the
reference's distill regression (testutil.py:637-708): recall = want ⊆
got (assertEqualGraphs exact=False), precision = the symmetric check.
Target P/R >= 0.95 (BASELINE.json); these fixtures are built to hit 1.0.
"""

import pytest

from ferenda_spark.fixtures.webpages import (
    commondata_df, golden_text_df, golden_triples_df, web_pages_df)
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.triples import all_triples

N = 40

KEY = ["url", "subj", "pred", "obj", "obj_is_uri", "obj_lang", "obj_datatype"]


@pytest.fixture(scope="module")
def extracted(spark):
    df = extract(web_pages_df(spark, N)).cache()
    df.count()
    yield df
    df.unpersist()


def test_all_rows_parse_ok(extracted):
    bad = extracted.where("not parse_ok").select("url", "error").collect()
    assert not bad, bad


def test_spark_text_byte_identical(spark, extracted):
    want = golden_text_df(spark, N)
    got = extracted.select("url", "text")
    mismatches = (
        got.alias("g").join(want.alias("w"), "url")
        .where("g.text IS DISTINCT FROM w.text")
        .select("url", "g.text", "w.text").collect()
    )
    assert not mismatches, mismatches[:3]
    assert got.count() == want.count() == N


def test_triples_precision_recall(spark, extracted):
    # set comparison via collected tuples (KEY rows are small at N=40);
    # DataFrame.intersect on this plan trips a Spark 4.1 internal
    # attribute-binding bug (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    got_df = all_triples(extracted, commondata_df(spark)).select(*KEY)
    want_df = golden_triples_df(spark, N).select(*KEY)
    got = {tuple(r) for r in got_df.collect()}
    want = {tuple(r) for r in want_df.collect()}
    n_hit = len(got & want)
    precision = n_hit / len(got)
    recall = n_hit / len(want)
    if precision < 1.0 or recall < 1.0:
        print("MISSING (want - got):")
        for r in sorted(want - got)[:12]:
            print("  ", r)
        print("EXTRA (got - want):")
        for r in sorted(got - want)[:12]:
            print("  ", r)
    assert precision >= 0.95, f"precision {precision:.3f} ({n_hit}/{len(got)})"
    assert recall >= 0.95, f"recall {recall:.3f} ({n_hit}/{len(want)})"


def test_triples_schema_invariants(spark, extracted):
    t = all_triples(extracted, commondata_df(spark))
    assert t.where("subj IS NULL OR pred IS NULL OR obj IS NULL").count() == 0
    # every URI object either matches a scheme or is a fragment of one
    assert t.where("obj_is_uri AND obj NOT RLIKE '^(https?|ftp)://'").count() == 0


def test_lift_memo_is_keyed_by_the_dictionary(spark, extracted):
    """The fused lift's expression is built once per dictionary: a
    second dictionary (same labels, other URIs) gets its own build, whose
    label links match a build that bypasses the memo, and lifting again
    under the first dictionary is a cache hit."""
    from pyspark.sql import functions as F

    from ferenda_spark import ns
    from ferenda_spark.operators import triples as T

    first = commondata_df(spark)
    second = first.withColumn("uri", F.concat("uri", F.lit("/v2")))

    def links(t):
        return sorted(tuple(r) for r in t.where(
            F.col("pred").isin(ns.DCT_PUBLISHER, ns.DCT_SUBJECT))
            .select(*KEY).collect())

    def unmemoized(commondata):
        rows = tuple((r.uri, r.label, r.pred) for r in commondata.collect())
        return T.fused_scalar_triples(
            extracted, extra_structs=T._label_link_structs(rows))

    T._fused_lift.cache_clear()
    a = links(all_triples(extracted, first))
    b = links(all_triples(extracted, second))
    assert T._fused_lift.cache_info().misses == 2
    assert a and a != b
    assert any(r[3].endswith("/v2") for r in b)
    assert a == links(unmemoized(first))
    assert b == links(unmemoized(second))

    hits = T._fused_lift.cache_info().hits
    assert links(all_triples(extracted, first)) == a
    assert T._fused_lift.cache_info().hits == hits + 1


def test_join_branch_matches_fused_branch(spark, extracted, monkeypatch):
    """A dictionary too big to compile into the fused lift takes the
    join branch, which gives the same triple set."""
    from ferenda_spark.operators import triples as T

    def triple_set():
        t = all_triples(extracted, commondata_df(spark)).select(*KEY)
        return {tuple(r) for r in t.collect()}

    fused = triple_set()
    monkeypatch.setattr(T, "_LITERAL_DICT_MAX", 0)
    joined = triple_set()
    assert fused and joined == fused
