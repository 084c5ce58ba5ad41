"""Production SemDeDup (q_dedup_semantic at SEMDEDUP_PROD) against the
synthetic embeddings fixture: the fixture plants near-duplicates (same
base vector + sigma 0.01 noise, cosine ~0.9999) inside a 256-centroid
cluster structure whose ordinary cluster-mates sit far below the 0.97
threshold — the op must recover (nearly) every planted pair and
nothing else."""

import tempfile

import pytest

from ferenda_spark import queries as Q
from ferenda_spark.fixtures.embeddings import embeddings_df_dist, gen_vec


@pytest.fixture(scope="module")
def emb_dir(spark):
    with tempfile.TemporaryDirectory() as td:
        (embeddings_df_dist(spark, 6000)
         .write.mode("overwrite").parquet(f"{td}/embeddings.parquet"))
        yield td


def _planted(n):
    """(min_id, max_id) pairs the fixture plants (skipping chained
    dup-of-dup sources, whose stored vector differs from its base)."""
    out = set()
    for i in range(n):
        if i % 31 == 7 and i >= 4 * 256:
            j = i - 256 * (1 + (i % 3))
            if not (j % 31 == 7 and j >= 4 * 256):
                out.add((j, i))
    return out


def test_recovers_planted_near_dups(spark, emb_dir):
    got = {(r.vec_a, r.vec_b)
           for r in Q.q_dedup_semantic(spark, emb_dir,
                                       **Q.SEMDEDUP_PROD).collect()}
    planted = _planted(6000)
    assert planted, "fixture must plant pairs at this scale"
    recall = len(got & planted) / len(planted)
    assert recall >= 0.95, f"recall {recall:.3f} over {len(planted)} pairs"
    # precision: anything extra must still be a genuine >=0.97 pair —
    # cluster-mates sit near cos ~0.8, so extras should be rare
    extras = got - planted
    assert len(extras) <= len(planted) * 0.1


def test_ivf_prod_recall_vs_brute_force(spark, emb_dir):
    """nprobe=8 IVF top-3 must recover (almost all of) the exact
    brute-force top-3 on the clustered fixture — multi-cell probing is
    what buys back boundary losses."""
    ivf = {(r.qid, r.cid)
           for r in Q.q_ann_ivf_topk(spark, emb_dir,
                                     **Q.IVF_PROD).collect()}
    brute = {(r.qid, r.cid)
             for r in Q.q_ann_cosine_topk(spark, emb_dir).collect()}
    assert brute, "brute-force baseline must produce rows"
    recall = len(ivf & brute) / len(brute)
    assert recall >= 0.9, f"recall@3 {recall:.2f}"


def test_fixture_is_pure_in_seed_and_id(spark):
    a = gen_vec(4321)
    b = gen_vec(4321)
    assert a[0] == b[0] and a[2] == b[2]
    assert (a[1] == b[1]).all()
