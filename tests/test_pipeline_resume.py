"""Pipeline + checkpoint/resume + cross-document join tests
(SURVEY.md §2 J2-J4, M6 exact resume; north_rule lineage)."""

import datetime
import os
import re

import pytest
from pyspark.sql import functions as F

from ferenda_spark import checkpoint, pipeline
from ferenda_spark.fixtures.webpages import commondata_df, web_pages_df
from ferenda_spark.operators import canonicalize
from ferenda_spark.operators.extract import extract
from ferenda_spark.operators.triples import all_triples

N = 30


@pytest.fixture(scope="module")
def triples(spark):
    df = all_triples(extract(web_pages_df(spark, N)),
                     commondata_df(spark)).cache()
    df.count()
    yield df
    df.unpersist()


def test_run_and_resume(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe"))
    entries = f"{out}/entries"
    pages = web_pages_df(spark, 20)
    res1 = pipeline.run(spark, pages, commondata_df(spark), out,
                        entries_path=entries)
    assert res1.n_extracted == 20
    assert res1.n_triples > 100

    # second run, same input: everything checkpointed -> nothing pending
    todo = checkpoint.pending(pages, checkpoint.read_entries(spark, entries))
    assert todo.count() == 0

    # a NO-OP resume must not touch the committed tables (regression:
    # an empty batch used to overwrite triples/ with nothing)
    res2 = pipeline.run(spark, pages, commondata_df(spark), out,
                        entries_path=entries)
    assert res2.n_extracted == 0 and res2.batch is None
    assert res2.n_triples_total == res1.n_triples

    # a changed page (different bytes for same url) IS pending again,
    # and an incremental run commits it as a NEW batch while keeping
    # every earlier batch's triples
    changed = pages.limit(1).withColumn(
        "html", F.to_binary(F.lit("<html><body><p>new</p></body></html>"),
                            F.lit("utf-8")))
    assert checkpoint.pending(
        changed, checkpoint.read_entries(spark, entries)).count() == 1
    res3 = pipeline.run(spark, changed, commondata_df(spark), out,
                        entries_path=entries)
    assert res3.n_extracted == 1 and res3.batch is not None
    assert res3.n_triples_total == res1.n_triples + res3.n_triples

    # idempotent retry: re-running the SAME batch (same pending set,
    # e.g. after a crash before the entries append) replaces its own
    # partitions instead of duplicating them
    res4 = pipeline.run(spark, changed, commondata_df(spark), out,
                        entries_path=None)  # no checkpoint -> all pending
    assert res4.batch == res3.batch
    assert res4.n_triples_total == res3.n_triples_total

    # SUPERSEDE: the raw table is an append log (both versions of the
    # re-crawled url exist), but the current view keeps exactly one
    # version per url — the re-crawl
    t = spark.read.parquet(f"{out}/triples")
    changed_url = changed.select("url").first().url
    assert t.where(F.col("url") == changed_url) \
            .select("batch").distinct().count() == 2
    cur = pipeline.current_triples(t)
    per_url = (cur.groupBy("url")
               .agg(F.countDistinct("batch").alias("nb"))
               .where("nb > 1").count())
    assert per_url == 0
    assert cur.where(F.col("url") == changed_url) \
              .select("batch").distinct().first().batch == res3.batch

    # dependencies current view: no row may originate from a superseded
    # version of its from-document
    deps_all = spark.read.parquet(f"{out}/dependencies")
    cur_deps = pipeline.current_dependencies(deps_all, t)
    stale_from = (deps_all.join(
        cur.select(F.col("url").alias("from_url"),
                   "commit_ts").distinct(),
        ["from_url"], "inner")
        .where(F.col("from_commit_ts") != F.col("commit_ts")))
    # stale rows exist in the log ...
    assert deps_all.count() >= cur_deps.count()
    del stale_from


def test_incremental_deps_scan_only_new_batch(spark, tmp_path_factory):
    """The second commit's dependency job must scan the triple log with
    a batch partition filter on its new side (VERDICT r01 #4) and
    broadcast the brand-new-docs side, and it must equal the full
    recompute on the current graph."""
    from ferenda_spark.plans import audit

    out = str(tmp_path_factory.mktemp("incdep"))
    entries = f"{out}/entries"
    pipeline.run(spark, web_pages_df(spark, 14), commondata_df(spark), out,
                 entries_path=entries)
    res2 = pipeline.run(spark, web_pages_df(spark, 20),
                        commondata_df(spark), out, entries_path=entries)
    assert res2.n_extracted == 6  # only the new pages

    t = spark.read.parquet(f"{out}/triples")
    new = t.where(F.col("batch") == res2.batch)
    prior = pipeline.current_triples(t.where(F.col("batch") != res2.batch))
    frame = canonicalize.incremental_dependency_join(new, prior)
    assert audit.has_partition_filter(new, "batch")
    assert audit.has_broadcast_hash_join(frame)

    # incremental log == full recompute over the current graph
    cur_deps = pipeline.current_dependencies(
        spark.read.parquet(f"{out}/dependencies"), t)
    full = canonicalize.dependency_join(pipeline.current_triples(t))
    got = {(r.from_url, r.to_url) for r in cur_deps.collect()}
    want = {(r.from_url, r.to_url) for r in full.collect()}
    assert got == want


def test_triples_partition_layout(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("layout"))
    # the fixture's crawl dates repeat every 84 pages, so with three
    # input splits the same (pred_bucket, crawl_date) value occurs in
    # several splits
    pages = web_pages_df(spark, 90)
    pipeline.run(spark, pages, commondata_df(spark), out,
                 input_partitions=3)
    t = spark.read.parquet(f"{out}/triples")
    assert set(["pred_bucket", "crawl_date"]).issubset(set(t.columns))
    # partition pruning: filter on pred_bucket must hit a subset of files
    one = t.where("pred_bucket = 3")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "pred_bucket" in plan
    # the write is clustered: exactly one file per partition value
    files = {}
    for root, _, names in os.walk(f"{out}/triples"):
        if "crawl_date=" in root:
            files[root] = sum(n.endswith(".parquet") for n in names)
    assert files and set(files.values()) == {1}, {
        k: v for k, v in files.items() if v != 1}


def test_partition_cols_cluster_on_every_core(spark):
    """Plan pin on the pre-write exchange: the rows are hash-partitioned
    by the partition columns into defaultParallelism tasks."""
    triples = spark.createDataFrame(
        [("u1", "s", "p", "o")], "url string, subj string, pred string, "
        "obj string")
    warc = spark.createDataFrame(
        [("u1", datetime.datetime(2020, 1, 2))], "url string, "
        "warc_ts timestamp")
    df = pipeline.with_partition_cols(triples, warc)
    n = spark.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(
        rf"hashpartitioning\(pred_bucket#\d+L?, crawl_date#\d+, {n}\)",
        plan), plan


def test_session_turns_off_dataframe_debugging(spark):
    """get_spark turns off PySpark's per-call origin capture, which made
    several py4j round trips for every Column call of a plan build."""
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_unreadable_entries_raise_and_write_nothing(spark, tmp_path):
    """Only a missing (or data-less) entries table means "no
    checkpoint"; an unreadable one must not make every page pending."""
    out = str(tmp_path / "out")
    entries = tmp_path / "entries"
    entries.mkdir()
    assert checkpoint.read_entries(spark, str(entries)) is None
    assert checkpoint.read_entries(spark, str(tmp_path / "nope")) is None
    (entries / "part-0.parquet").write_bytes(b"not parquet")
    with pytest.raises(Exception, match="part-0.parquet"):
        pipeline.run(spark, web_pages_df(spark, 4), commondata_df(spark),
                     out, entries_path=str(entries))
    assert not os.path.exists(out)
    assert os.listdir(entries) == ["part-0.parquet"]


def test_dependency_join(triples):
    deps = canonicalize.dependency_join(triples)
    rows = {(r.from_url, r.to_url) for r in deps.collect()}
    # every dep's target is a real document of the corpus
    all_urls = {r.url for r in triples.select("url").distinct().collect()}
    assert rows, "expected at least one intra-corpus reference"
    for frm, to in rows:
        assert frm in all_urls and to in all_urls and frm != to


def test_skeleton_entities(triples):
    stubs = canonicalize.skeleton_entities(triples)
    stub_uris = {r.subj for r in stubs.collect()}
    # cited-but-absent RFCs and external URLs become stubs
    assert any("example.org" in u for u in stub_uris)
    described = {r.subj for r in triples.select("subj").distinct().collect()}
    assert not (stub_uris & described)


def test_annotation_closure(triples):
    ann = canonicalize.annotation_closure(triples)
    rows = ann.collect()
    # S1.1 sections must appear in their *document's* closure (depth 2)
    deep = [r for r in rows if r.part_uri.endswith("#S1.1")]
    assert deep and all("#" not in r.doc_uri for r in deep)
    # inbound refs: some section is referenced by another doc's section
    assert any(r.inbound_ref for r in rows)


def test_lookup_labels_fuzzy(spark):
    """Misspelled labels resolve through the levenshtein residual pass
    (documentrepository.py:472-485 cutoff-0.8 semantics)."""
    common = commondata_df(spark)
    facts = spark.createDataFrame(
        [("Network Working Group",),        # exact
         ("Network Wrking Group",),         # 1 edit -> fuzzy hit
         ("Netwrk Working Grup",),          # 2 edits -> still >= 0.8
         ("Completely Different Thing",)],  # no match
        "label string")
    out = canonicalize.lookup_labels_fuzzy(facts, common)
    got = {r.label: (r.ent_uri, r.match_kind) for r in out.collect()}
    nwg = "http://localhost:8000/ext/network-working-group"
    assert got["Network Working Group"] == (nwg, "exact")
    assert got["Network Wrking Group"] == (nwg, "fuzzy")
    assert got["Netwrk Working Grup"] == (nwg, "fuzzy")
    assert got["Completely Different Thing"] == (None, None)


def test_lookup_labels_and_salted_join(spark):
    common = commondata_df(spark)
    facts = spark.createDataFrame(
        [("Network Working Group",), ("Unknown Org",)], "label string")
    out = canonicalize.lookup_labels(facts, common)
    got = {r.label: r.ent_uri for r in out.collect()}
    assert got["Network Working Group"] is not None
    assert got["Unknown Org"] is None

    dim = common.select(F.col("label"), F.col("uri"))
    salted = canonicalize.salted_join(facts, dim, "label", salt=4)
    got2 = {r.label: r.uri for r in salted.collect()}
    assert got2 == {r.label: r.ent_uri for r in out.collect()}
