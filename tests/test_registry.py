"""Registry contract pins (VERDICT r02 #2): the driver checks exactly
the first 50 queries() entries, so the registry is capped at 50 and
every entry must be checkable; queries moved to registry_extra() stay
oracle-verified HERE (at sf0.001) so nothing is silently unchecked.
"""

from __future__ import annotations

import hashlib
import os

import pytest

from ferenda_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"

# declared rows-only entries (no SQL-expressible oracle by design)
NO_ORACLE = {"kg_pipeline"}
# same, for registry_extra (pandas-UDF stages DuckDB cannot express);
# these get a determinism gate instead (tests/test_multimodal.py)
NO_ORACLE_EXTRA = {"multimodal_features", "multimodal_frame_sample",
                   "multimodal_resize", "bpe_merges", "bpe_encode"}


def test_registry_is_exactly_50():
    assert len(Q.registry()) == 50


def test_every_driver_checked_query_has_an_oracle_or_is_declared():
    for name in Q.registry():
        if name not in NO_ORACLE:
            assert name in Q.ORACLE, f"{name} lacks a DuckDB oracle"


def test_no_overlap_between_registry_and_extra():
    both = set(Q.registry()) & set(Q.registry_extra())
    assert not both, f"duplicated entries: {both}"


def test_every_extra_query_has_an_oracle():
    for name in Q.registry_extra():
        if name not in NO_ORACLE_EXTRA:
            assert name in Q.ORACLE, f"extra {name} lacks a DuckDB oracle"


def _value_hash(pdf) -> str:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]

    def fmt(v):
        if v is None:
            return "NULL"
        if isinstance(v, float):
            return f"{v:.6g}"
        return str(v)

    rows = sorted("\x01".join(fmt(v) for v in row)
                  for row in pdf.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def _assert_matches_oracle(spark, fn, name):
    """Spark result == DuckDB oracle at sf0.001: row count, column set
    and order-insensitive value hash (tools/check_oracle.py's
    comparison)."""
    import duckdb

    spdf = fn(spark, SF_DIR).toPandas()
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    opdf = con.execute(Q.ORACLE[name]).df()
    assert len(spdf) == len(opdf)
    assert sorted(spdf.columns) == sorted(opdf.columns)
    assert _value_hash(spdf) == _value_hash(opdf)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
@pytest.mark.parametrize("name", sorted(set(Q.registry()) - NO_ORACLE))
def test_registry_query_matches_oracle(spark, name):
    """Every registry() row that has an oracle, checked in the test
    suite as well as by tools/check_oracle.py."""
    _assert_matches_oracle(spark, Q.registry()[name], name)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="no testdata")
@pytest.mark.parametrize("name", sorted(set(Q.registry_extra())
                                        - NO_ORACLE_EXTRA))
def test_extra_query_matches_oracle(spark, name):
    """The sacrificed-from-the-driver-window queries keep an external
    check here."""
    _assert_matches_oracle(spark, Q.registry_extra()[name], name)


def test_shards_chain_is_nondegenerate_at_driver_scale(spark):
    """corpus_to_shards_chain is empty at sf0.001 (DSIR selects nothing
    there), which would make an empty-vs-empty oracle comparison
    vacuous — pin that at the DRIVER's scale (sf0.01) the chain keeps a
    real survivor set, so the driver gate compares actual rows."""
    df = Q.q_corpus_to_shards_chain(spark, "/root/testdata/sf0.01")
    assert df.count() > 0


def test_leakage_safe_split_never_straddles_clusters(spark):
    """THE invariant the leakage-safe split exists for: no near-dup
    pair (production LSH config) may have its two endpoints in
    different splits, and the split must agree with hashing the
    cluster id directly."""
    splits = {r.doc_id: r.split
              for r in Q.q_split_leakage_safe(spark, SF_DIR).collect()}
    pairs = Q.q_dedup_lsh_pairs(spark, SF_DIR, **Q.LSH_PROD).collect()
    assert pairs, "fixture corpus must contain near-dup pairs"
    for p in pairs:
        assert splits[p.doc_a] == splits[p.doc_b], (p.doc_a, p.doc_b)


def test_split_from_labels_matches_and_falls_back(spark):
    """The deployment-shape split (materialized labels table as input)
    must agree exactly with the inline q_split_leakage_safe on labeled
    docs, keep the no-straddle invariant (same hash rule => follows
    from the agreement), and give an UNSEEN doc (a batch newer than
    the labels state) its own id as a singleton cluster."""
    inline = {r.doc_id: (r.cluster_id, r.split)
              for r in Q.q_split_leakage_safe(spark, SF_DIR).collect()}
    from_labels = {r.doc_id: (r.cluster_id, r.split)
                   for r in Q.q_split_from_labels(spark, SF_DIR).collect()}
    assert inline == from_labels
    # fallback: a doc absent from the labels state
    docs = spark.createDataFrame(
        [(10_000_001, "web")], "doc_id long, source string")
    labels = spark.createDataFrame([], "doc_id long, cluster_id long")
    row = Q.split_from_labels(docs, labels).collect()[0]
    assert row.cluster_id == 10_000_001
    assert row.split in ("train", "valid", "test")


def test_seq_pack_offsets_reconstruct_cumsum(spark):
    """pack_id * budget + pack_offset must equal the exclusive running
    token sum per source in doc_id order — the invariant a downstream
    pack materializer relies on to slice token streams."""
    rows = Q.q_seq_pack_assign(spark, SF_DIR).collect()
    by_source: dict[str, list] = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for docs in by_source.values():
        run = 0
        for r in sorted(docs, key=lambda r: r.doc_id):
            assert r.pack_id * Q._PACK_BUDGET + r.pack_offset == run
            run += r.n_tokens


def test_sampling_is_monotone_in_cap(spark, monkeypatch):
    """Hash-threshold sampling nests: every doc kept under a smaller
    per-source cap is kept under a larger one (RNG sampling has no such
    property — this is what makes the sampler incremental-safe)."""
    def kept(cap):
        monkeypatch.setattr(Q, "_SAMPLE_CAP", cap)
        return {r.doc_id for r in
                Q.q_sample_source_balanced(spark, SF_DIR).collect()}

    small, large = kept(5), kept(15)
    assert small < large  # strictly nested at these caps on this corpus


def test_filter_cascade_reason_branches(spark, tmp_path):
    """The synthetic corpus only ever trips too_short/non_english, so
    pin the other two rules (and priority order) on crafted documents
    run through the SAME Spark expression."""
    import pandas as pd

    docs = pd.DataFrame([
        # kept: diverse english, sane word lengths
        (1, " ".join(f"the quick brown fox w{i}" for i in range(12))),
        (2, "hi"),                                       # too_short
        (3, " ".join(f"bonjour monde numero mot{i} ici" for i in range(8))),
        (4, "the cat " * 30),                            # low_diversity
        (5, "the of " + " ".join("verylongnonsenseword%02d" % i * 2
                                 for i in range(40))),   # word_length
        (6, "x " * 10),  # short AND low-diversity -> first rule wins
    ], columns=["doc_id", "text"])
    docs["lang"] = "en"
    docs["source"] = "crafted"
    docs["n_chars"] = docs.text.str.len()
    docs.to_parquet(tmp_path / "documents.parquet")
    out = {r.doc_id: r for r in
           Q.q_corpus_filter_cascade(spark, str(tmp_path)).collect()}
    assert out[1].keep and out[1].fail_reason is None
    assert out[2].fail_reason == "too_short"
    assert out[3].fail_reason == "non_english"
    assert out[4].fail_reason == "low_diversity"
    assert out[5].fail_reason == "word_length"
    assert out[6].fail_reason == "too_short"


def test_incremental_cluster_update_equals_full(spark):
    """update_cluster_labels contract: persisted old-corpus labels +
    the new batch's pairs must reproduce the FULL re-clustering
    exactly (star contraction preserves connectivity and min labels);
    and components untouched by new edges pass through verbatim."""
    inc = {(r.doc_id, r.cluster_id) for r in
           Q.q_dedup_clusters_incremental(spark, SF_DIR).collect()}
    full = {(r.doc_id, r.cluster_id) for r in
            Q.q_dedup_clusters(spark, SF_DIR, **Q.LSH_PROD).collect()}
    assert inc == full
    # unit: an untouched far component survives, a bridged pair merges
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (10, 10), (20, 20)],
        "doc_id long, cluster_id long")
    new_pairs = spark.createDataFrame(
        [(10, 100), (100, 20)], "doc_a long, doc_b long")
    new_docs = spark.createDataFrame([(100,)], "doc_id long")
    got = {r.doc_id: r.cluster_id for r in
           Q.update_cluster_labels(labels, new_pairs, new_docs)
           .collect()}
    assert got == {1: 1, 2: 1, 10: 10, 20: 10, 100: 10}
