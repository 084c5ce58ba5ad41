"""Plan-shape regression tests: pushdown, pruning, broadcast, shuffle
counts (SURVEY.md §4; task brief "explain and iterate")."""

import re

import pytest
from pyspark.sql import functions as F

from ferenda_spark import plans, queries as Q

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .where(F.col("lang") == "en").select("doc_id"))
    assert plans.has_pushed_filter(d, "lang")


def test_filter_helpers_check_every_scan(spark, tmp_path):
    """A pruned scan next to an unpruned one of the same table is not
    "filtered": the formatted plan omits an empty PartitionFilters
    entry, so a check that any scan matches cannot see the second.  A
    filter list is read whole, past the brackets an ``In`` nests."""
    from ferenda_spark.plans import audit

    path = str(tmp_path / "t")
    (spark.range(4).withColumn("part", F.col("id") % 2)
     .withColumn("x", F.col("id") * 2)
     .write.partitionBy("part").parquet(path))
    t = spark.read.parquet(path)
    pruned = t.where("part = 1 AND id IN (1, 3) AND x > 0")
    assert audit.has_partition_filter(pruned, "part")
    assert plans.has_pushed_filter(pruned, "id")
    assert plans.has_pushed_filter(pruned, "GreaterThan(x,0)")
    both = pruned.unionByName(t)
    assert not audit.has_partition_filter(both, "part")
    assert not plans.has_pushed_filter(both, "id")


def test_column_pruning(spark):
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .select("doc_id", "lang"))
    schemas = plans.read_schema_columns(d)
    assert schemas and all(set(s) <= {"doc_id", "lang"} for s in schemas)
    # and the big text column is NOT read
    assert all("text" not in s for s in schemas)


def test_entity_link_broadcasts(spark):
    df = Q.q_entity_link(spark, SF)
    assert plans.has_broadcast_hash_join(df)
    # the only shuffle allowed is the dim side's distinct(); the FACT
    # side must not shuffle on the join key
    assert plans.shuffle_exchange_count(df) <= 1


def test_lift_is_single_stage_codegen(spark):
    # the triple lift is a pure narrow map: no shuffle at all
    df = Q.q_kg_triples_lift(spark, SF)
    assert plans.shuffle_exchange_count(df) == 0
    assert plans.wholestage_codegen_count(df) >= 1


def test_atom_pages_no_global_row_window(spark):
    """The global row-number is two-pass: per-day local ranks + a
    broadcast prefix-sum join.  The only partitionless window runs over
    one row per day, so the events table itself must never be windowed
    unpartitioned (VERDICT r01 scale-killer)."""
    df = Q.q_news_atom_pages(spark, SF)
    assert plans.has_broadcast_hash_join(df)
    # the event-level window is hash-partitioned by day
    assert "hashpartitioning(day" in plans.explain_str(df)


def test_ngram_blocking_is_capped(spark):
    """Candidate generation must consume the capped block set (the
    oversized-block filter exists in the plan as an aggregate+join on
    block before the self-join)."""
    df = Q.q_dedup_ngram_jaccard(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert "LeftSemi" in plan  # ok_blocks semi join present


def test_lsh_shuffles_hashed_shingles_not_strings(spark):
    """The persisted shingle table carries (doc_id, h:long) — the string
    shingle must not appear past the first projection."""
    sh = Q._hashed_shingles_df(spark, SF)
    assert dict(sh.dtypes)["h"] == "bigint"
    assert "tok" not in sh.columns


def test_api_paging_is_engine_side(spark):
    """The REST-API twin pages with offset/limit (GlobalLimit in the
    plan) — VERDICT r02 #1: a query matching millions of documents must
    collect only page_size rows, never the full hit set."""
    from ferenda_spark.operators import api

    triples = spark.createDataFrame(
        [(f"http://x/{i}", "p", "o") for i in range(40)],
        "subj string, pred string, obj string")
    paged = api._page(api._faceted_pivot(triples, {}).orderBy("subj"),
                      page=1, page_size=10)
    plan = plans.explain_str(paged, mode="simple")
    # either a GlobalLimit or (better) the offset+limit fused into the
    # sort as a top-K TakeOrderedAndProject
    assert "GlobalLimit" in plan or "TakeOrderedAndProject" in plan
    assert len(paged.collect()) == 10


def test_api_collects_only_page_sized_results(spark, monkeypatch):
    """No api function may materialize more rows on the driver than one
    page (plus per-value facet counts) — catches any regression to the
    collect-all-then-slice / full-corpus-collect patterns."""
    # patch the CONCRETE class: in PySpark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides collect
    from pyspark.sql.classic.dataframe import DataFrame

    from ferenda_spark.operators import api

    triples = spark.createDataFrame(
        [(f"http://x/{i:03d}", p, o)
         for i in range(60)
         for p, o in [(Q.RDF_TYPE, "T"),
                      ("http://purl.org/dc/terms/title", f"doc {i}"),
                      ("http://purl.org/dc/terms/issued",
                       f"20{i % 20:02d}-01-0{1 + i % 9}")]],
        "subj string, pred string, obj string")
    texts = spark.createDataFrame(
        [(f"http://x/{i:03d}", f"body text number {i} with a needle")
         for i in range(60)], "iri string, text string")

    collected: list[int] = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    r = api.faceted_query(triples, {}, page_size=10)
    assert r["totalResults"] == 60 and len(r["items"]) == 10
    r = api.fulltext_query(triples, texts, "needle", page_size=10)
    assert r["totalResults"] == 60 and len(r["items"]) == 10
    fields = [("dcterms_title", "http://purl.org/dc/terms/title", "text"),
              ("dcterms_issued", "http://purl.org/dc/terms/issued", "date")]
    r = api.advanced_query(triples, fields, {}, page_size=10)
    assert r["totalResults"] == 60 and len(r["items"]) == 10
    assert collected and max(collected) <= 10


def test_sample_broadcast_no_wide_shuffle(spark):
    """Source-balanced sampling joins the tiny per-source threshold
    table via broadcast; the corpus rows themselves must never shuffle
    (the only exchange feeds the per-source count aggregate)."""
    df = Q.q_sample_source_balanced(spark, SF)
    assert plans.has_broadcast_hash_join(df)
    assert plans.shuffle_exchange_count(df) <= 2  # partial+final agg only


def test_seq_pack_two_pass_bucketed(spark):
    """VERDICT r03 #2: the packing cumsum is the two-pass bucketed
    prefix sum — the wide exchange is on (source, bucket), never on
    source alone (which caps parallelism at source cardinality: one
    task per domain's entire stream), and the shared exchange is
    REUSED so the upstream scans/tokenizes once."""
    import re

    df = Q.q_seq_pack_assign(spark, SF)
    plan = plans.explain_str(df)
    # wide shuffle carries BOTH keys; no whole-source task
    assert re.search(r"hashpartitioning\(source#\d+, b#\d+", plan)
    assert "SinglePartition" not in plan
    final = plans.executed_plan_str(df)
    assert "ReusedExchange" in final


def test_prepare_chain_plan_shape(spark):
    """cascade -> sample -> pack composed: the threshold table
    broadcasts, the packing shuffle is on (source, bucket) and reused,
    no single-partition stage anywhere.  Exchange budget: the
    per-source count aggregate + the (source, bucket) packing exchange
    + the tiny bucket-offset window's (source) exchange."""
    df = Q.q_corpus_prepare_chain(spark, SF)
    # static plan shows 5 (the (source, bucket) exchange appears on
    # both diamond legs); at runtime one leg is a ReusedExchange, so
    # effective shuffles = 4 — asserted via the final plan below
    assert plans.shuffle_exchange_count(df) <= 5
    assert plans.has_broadcast_hash_join(df)
    assert "SinglePartition" not in plans.explain_str(df)
    assert "ReusedExchange" in plans.executed_plan_str(df)


def test_incremental_lsh_broadcasts_batch_probe(spark):
    """The daily batch's band keys broadcast against the corpus-sized
    old index — the index itself must never shuffle for a probe."""
    df = Q.q_dedup_lsh_incremental(spark, SF)
    assert plans.has_broadcast_hash_join(df)


def test_no_rdd_probe_in_queries():
    """df.rdd builds the full RDD-conversion plan — banned from the
    query layer (VERDICT r02 #8)."""
    import inspect

    src = inspect.getsource(Q)
    assert ".rdd" not in src


def test_fused_triples_single_scan(spark):
    """The fused emission must scan `extracted` once (plus zero joins
    when the dictionary compiles to a literal map)."""
    from ferenda_spark.fixtures.webpages import commondata_df, web_pages_df
    from ferenda_spark.operators.extract import extract
    from ferenda_spark.operators.triples import all_triples
    t = all_triples(extract(web_pages_df(spark, 5)), commondata_df(spark))
    plan = plans.explain_str(t, mode="simple")
    assert "BroadcastHashJoin" not in plan      # literal map, not a join
    # ZERO shuffles: set-dedup happens per document via pre-explode
    # array_distinct (dupes are impossible across documents), so the
    # whole lift is one narrow map stage
    assert plans.shuffle_exchange_count(t) == 0


def test_pii_redact_is_shuffle_free(spark):
    """Redaction is a pure narrow scan: regexp_count/replace in one
    codegen stage, zero exchanges (only _read_wide's round-robin)."""
    df = Q.q_pii_redact(spark, SF)
    # zero hash/range shuffles — the only exchange is _read_wide's
    # single-file round-robin rebalance
    assert plans.shuffle_exchange_count(df) == 0
    plan = plans.explain_str(df, mode="simple")
    assert "Join" not in plan and "Aggregate" not in plan


def test_boilerplate_hot_set_broadcasts(spark):
    """The line-frequency hot set joins back as a BROADCAST anti-join;
    the corpus-sized line table must not shuffle for the filter (only
    the freq groupBy and the per-doc reassembly shuffle)."""
    df = Q.q_dedup_boilerplate_lines(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_decontaminate_eval_set_broadcasts(spark):
    """The eval n-gram set is benchmark-sized: it must broadcast; the
    corpus n-gram explode must never shuffle on the gram hash."""
    df = Q.q_decontaminate_ngrams(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert "BroadcastHashJoin" in plan
    # at most ONE hash exchange keyed on the gram hash — the eval-set
    # distinct (benchmark-sized); the corpus explode side must reach
    # the join without shuffling on h
    import re
    assert len(re.findall(r"hashpartitioning\(h#", plan)) <= 1


def test_vocab_topk_avoids_global_sort(spark):
    """Top-K by frequency must plan as TakeOrdered (per-partition heap,
    driver merge of K rows) — never a full range-partitioned sort of the
    vocabulary; the cumulative window then runs over K rows only."""
    df = Q.q_vocab_topk_coverage(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_scrub_chain_plan_shape(spark):
    """URL dedup || boilerplate strip -> redact -> cascade composed:
    the hot-line set broadcasts (anti-join), redaction+cascade fuse
    onto the reassembly output (no extra exchange between them), and
    no stage collapses to a single partition."""
    df = Q.q_web_corpus_scrub_chain(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SinglePartition" not in plans.explain_str(df)
    # line freq agg (partial+final on line), reassembly (doc_id,source),
    # url window (norm_url), final join (doc_id): <=5 hash exchanges
    assert plans.shuffle_exchange_count(df) <= 5


def test_semantic_dedup_is_one_per_cell_group(spark):
    """The within-cell pairwise runs as one grouped kernel per cell:
    the plan's only shuffle feeds the groupBy(cluster), and no pair
    enumeration happens as a join (a nested-loop or cartesian join
    would enumerate every pair in the JVM)."""
    df = Q.q_dedup_semantic(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert plans.shuffle_exchange_count(df) == 1
    assert "hashpartitioning(cluster" in plan
    assert "FlatMapGroupsInPandas [cluster" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_domain_cap_pushes_window_group_limit(spark):
    """rank<=k over the per-source window must compile to
    WindowGroupLimit (Spark's local top-k before the shuffle) — a
    billion-document domain then moves k rows per map task, not its
    whole partition."""
    df = Q.q_domain_cap_rank(spark, SF)
    plan = plans.explain_str(df)
    assert "WindowGroupLimit" in plan
    assert "SinglePartition" not in plan


def test_shard_assign_no_corpus_global_window(spark):
    """The total order is two-pass: per-bucket local ranks + a
    broadcast prefix-sum of the 256 bucket counts.  The only
    partitionless window runs over the bucket-count aggregate (256
    rows), so the document stream itself is windowed hash-partitioned
    by bucket."""
    df = Q.q_shard_assign(spark, SF)
    plan = plans.explain_str(df)
    assert plans.has_broadcast_hash_join(df)
    assert "hashpartitioning(b" in plan


def test_substring_spans_shuffles_longs_not_text(spark):
    """The window explode hashes to 60-bit longs in the same projection
    — no exchange may carry the 40-char window string."""
    df = Q.q_dedup_substring_spans(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    # the window string may exist only in the stage that generates it
    # (Generate + same-stage hash projection), never across an exchange
    segments = plan.split("Exchange")
    for seg in segments:
        if "win#" in seg:
            assert "Generate explode" in seg
    # (h,doc) agg + count-over-h window + per-doc rollup
    assert plans.shuffle_exchange_count(df) <= 3


def test_split_train_eval_is_one_aggregate(spark):
    """The split is a stateless column expression; the only exchange
    feeds the per-(split,source) aggregate."""
    df = Q.q_split_train_eval(spark, SF)
    assert plans.shuffle_exchange_count(df) <= 1
    assert "SinglePartition" not in plans.explain_str(df)


def test_lm_bits_broadcasts_total(spark):
    """The one-row total joins via broadcast; the token->count scoring
    join is the only wide join in the plan."""
    df = Q.q_quality_lm_bits(spark, SF)
    assert plans.has_broadcast_hash_join(df)


def test_lsh_prod_caps_hot_buckets(spark):
    """The production banding must (a) filter hot buckets through the
    count<=cap semi-join BEFORE the band self-join — a k-doc bucket is
    k^2 in pair output, so the cap bounds the worst case — and (b)
    semi-join the shingle table down to candidate docs before the
    verification join, so the verify shuffle is collision-set-sized,
    not corpus-sized."""
    df = Q.q_dedup_lsh_pairs(spark, SF, **Q.LSH_PROD)
    plan = plans.explain_str(df, mode="simple")
    assert plan.count("LeftSemi") >= 2


def test_dsir_scoring_join_broadcasts(spark):
    """DSIR's per-doc scoring join must be a broadcast hash join on the
    bucket id (the LM ratio table is <= _DSIR_BUCKETS rows) — never a
    corpus-vs-corpus shuffle — and the (doc,bucket) pre-agg must be the
    only corpus-sized aggregate."""
    df = Q.q_dsir_importance(spark, SF)
    assert plans.has_broadcast_hash_join(df)


def test_tokenize_to_ids_encode_is_narrow(spark):
    """The id-encode must be a NARROW map stage over the token array
    (map-literal lookup via a broadcast nested-loop join): the only
    shuffles in the plan belong to the bounded vocab build (token agg +
    its map fold), and nothing re-aggregates by doc_id — the previous
    shape shuffled every (doc, pos, tok_id) occurrence back through a
    collect_list."""
    df = Q.q_tokenize_to_ids(spark, SF)
    plan = plans.explain_str(df, mode="simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert plans.shuffle_exchange_count(df) <= 2  # vocab subtree only
    assert "keys=[doc_id" not in plan


def test_simhash_prod_caps_hot_buckets(spark):
    """The production simhash banding must filter hot buckets through
    the count<=cap semi-join BEFORE the band self-join (on the 100k
    fixtures corpus the uncapped join emits 51M candidate pairs, 42M of
    them from the 135 buckets larger than the cap), and the hamming
    radius must be applied as a plan filter, not client-side."""
    df = Q.q_dedup_simhash_band_pairs(spark, SF, **Q.SIMHASH_PROD)
    plan = plans.explain_str(df, mode="simple")
    assert plan.count("LeftSemi") >= 1
    assert "hamming" in plan and "<= 3" in plan.replace("(", " (")


# ---------------------------------------------------------------------------
# the read path over a pipeline.run-written triple log

@pytest.fixture(scope="module")
def kg_log(spark, tmp_path_factory):
    """A two-commit triple log: the second commit adds pages, so the
    log is partitioned by batch, pred_bucket and crawl_date."""
    from ferenda_spark import pipeline
    from ferenda_spark.fixtures.webpages import commondata_df, web_pages_df

    out = str(tmp_path_factory.mktemp("kglog"))
    for n in (12, 16):
        pipeline.run(spark, web_pages_df(spark, n), commondata_df(spark),
                     out, entries_path=f"{out}/entries")
    return f"{out}/triples"


def _read_path_requests(triples):
    """The benchmark's kind of requests over ``triples``, each as a
    function that builds its DataFrame: a BGP join, an isPartOf+ path to
    a document with parts, and a faceted pivot."""
    from ferenda_spark import ns
    from ferenda_spark.operators import api
    from ferenda_spark.operators.sparql import sparql_query

    doc = (triples.where(F.col("pred") == ns.DCT_ISPARTOF)
           .select("obj").orderBy("obj").first().obj)
    return [
        lambda: sparql_query(triples, f"""
            SELECT ?doc ?title ?pub WHERE {{
              ?doc <{ns.DCT_PUBLISHER}> ?pub ; <{ns.DCT_TITLE}> ?title }}"""),
        lambda: sparql_query(triples, f"""
            SELECT ?part WHERE {{ ?part <{ns.DCT_ISPARTOF}>+ <{doc}> }}"""),
        lambda: api._faceted_pivot(
            triples, {"dcterms_publisher": "*/ext/network-working-group"}),
    ]


def _run(spark, build):
    """(the physical plan of every execution, the rows) of building one
    request and collecting it.  Building a path query already runs
    jobs: its closure materializes the edge set and each round."""
    rows = []
    executed = plans.executed_plans(
        spark, lambda: rows.extend(build().collect()))
    return executed, rows


def test_read_path_scans_prune_pred_bucket(spark, kg_log):
    """Every scan that a pattern, a path (its closure's edge scan
    included) and a faceted pivot with a parameter run reads only its
    predicates' pred_bucket partitions."""
    from ferenda_spark import pipeline

    cur = pipeline.current_triples(spark.read.parquet(kg_log))
    for build in _read_path_requests(cur):
        filters = plans.partition_filters(_run(spark, build)[0])
        assert filters and all("pred_bucket" in f for f in filters), \
            filters


def test_view_requests_reuse_latest_index(spark, kg_log):
    """A request over ``current_triples`` reads the view's materialized
    (url, latest commit_ts) index: no job it runs re-aggregates
    max(commit_ts) over the log."""
    from ferenda_spark import pipeline

    cur = pipeline.current_triples(spark.read.parquet(kg_log))
    for build in [lambda: cur] + _read_path_requests(cur):
        for plan in _run(spark, build)[0]:
            assert "max(commit_ts" not in plan


def test_sparql_without_pred_bucket_answers_the_same(spark, kg_log):
    """The pruning is only an addition: without the pred_bucket column
    the scans are unpruned and the answers are unchanged."""
    log = spark.read.parquet(kg_log)
    for pruned, plain in zip(_read_path_requests(log),
                             _read_path_requests(log.drop("pred_bucket"))):
        pruned_plans, pruned_rows = _run(spark, pruned)
        plain_plans, plain_rows = _run(spark, plain)
        assert any(plans.partition_filters(pruned_plans))
        assert not any(plans.partition_filters(plain_plans))
        assert sorted(pruned_rows) == sorted(plain_rows)


def _paging_cases(spark):
    """(name, triples, texts, page, publisher, q) — four paging cases
    over 30 documents, every third published by http://pub/1 and every
    second with "needle" in its body text.  Pages hold 4 hits, fewer
    than a hit set, so a top-k that stops reading early shows."""
    triples = spark.createDataFrame(
        [(f"http://x/{i:03d}", p, o)
         for i in range(30)
         for p, o in [(Q.RDF_TYPE, "T"),
                      ("http://purl.org/dc/terms/title", f"doc {i}"),
                      ("http://purl.org/dc/terms/publisher",
                       f"http://pub/{i % 3}"),
                      ("http://purl.org/dc/terms/issued",
                       f"20{i % 20:02d}-01-01")]],
        "subj string, pred string, obj string")
    texts = spark.createDataFrame(
        [(f"http://x/{i:03d}", f"body {i}" + " needle" * (i % 2))
         for i in range(30)], "iri string, text string")
    return [
        ("page 0", triples, texts, 0, "http://pub/1", "needle"),
        ("past the end", triples, texts, 3, "http://pub/1", "needle"),
        ("empty hit set", triples, texts, 0, "http://pub/9", "nowhere"),
        ("statically empty input", triples.where(F.lit(False)),
         texts.where(F.lit(False)), 0, "http://pub/1", "needle"),
    ]


def test_api_page_and_total_in_one_job(spark, monkeypatch):
    """faceted_query, fulltext_query and advanced_query answer the page
    and its total from one job: no DataFrame.count, and the total equals
    a separate count of the hit set in every case — including a
    statically empty input, whose observation the optimizer removes."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ferenda_spark.operators import api

    fields = [("dcterms_title", "http://purl.org/dc/terms/title", "text"),
              ("dcterms_issued", "http://purl.org/dc/terms/issued", "date"),
              ("dcterms_publisher", "http://purl.org/dc/terms/publisher",
               "uri")]
    title = F.col("dcterms_title").contains
    expected = []
    for _, t, texts, _, pub, q in _paging_cases(spark):
        pivot = api._faceted_pivot(t, {"dcterms_publisher": pub})
        hits = (pivot.join(texts.withColumnRenamed("iri", "subj"), "subj",
                           "left")
                .where(F.coalesce(F.col("text"), F.lit("")).contains(q)
                       | title(q)))
        expected.append((pivot.count(), hits.count()))

    def no_count(self):
        raise AssertionError("DataFrame.count called")

    monkeypatch.setattr(DataFrame, "count", no_count)
    for (name, t, texts, page, pub, q), (n_docs, n_text) in zip(
            _paging_cases(spark), expected):
        on_page = max(0, min(4, n_docs - 4 * page))
        r = api.faceted_query(t, {"dcterms_publisher": pub}, page=page,
                              page_size=4)
        assert (r["totalResults"], len(r["items"])) == (n_docs, on_page), \
            name
        r = api.advanced_query(t, fields, {"dcterms_publisher": pub},
                               page=page, page_size=4)
        assert (r["totalResults"], len(r["items"])) == (n_docs, on_page), \
            name
        r = api.fulltext_query(t, texts, q, {"dcterms_publisher": pub},
                               page=page, page_size=4)
        assert r["totalResults"] == n_text, name
    # the cases are not vacuous
    assert expected == [(10, 5), (10, 5), (0, 0), (0, 0)]


def test_advanced_query_pages_without_an_issued_field(spark):
    """A facet config without dcterms_issued pages by subject: every
    page comes back, in subject order, with the full total."""
    from ferenda_spark.operators import api

    _, triples, _, _, _, _ = _paging_cases(spark)[0]
    fields = [("dcterms_title", "http://purl.org/dc/terms/title", "text"),
              ("dcterms_publisher", "http://purl.org/dc/terms/publisher",
               "uri")]
    iris = []
    for page in range(8):
        r = api.advanced_query(triples, fields, {}, page=page, page_size=4)
        assert r["totalResults"] == 30
        iris += [item["iri"] for item in r["items"]]
    assert iris == [f"http://x/{i:03d}" for i in range(30)]
