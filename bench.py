"""Benchmark driver: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <sf>, ...extras}

Extras (informational, per BASELINE.md protocol):
- kg_docs_per_sec: throughput of the full KG pipeline (north-star metric)
- scaling: the SAME KG job + input at local[8] and local[$CPUS], each in
  its own fresh JVM subprocess (fair cold-start treatment), warmed up
  in-session and timed as best-of-3.  efficiency = (T_low/T_high)/(N/8)
  — the sandbox proxy for N vs 4N executor clusters (north_rule).

SPARK_GRAFT_CPUS defaults to the machine's CPU count, as in
session.get_spark.

Env knobs: SPARK_GRAFT_SCALING=0 skips the scaling subprocesses;
SPARK_GRAFT_KG_PAGES sizes the synthetic corpus (default 600000,
synthesized cluster-side via web_pages_df_dist).

Subprocess protocol: `python bench.py --kg-only <cores> <pages>` prints
one JSON line {"sec": .., "docs_per_sec": ..}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
# scaling corpus: big enough that compute dominates local-mode task
# overhead (~260 core-seconds; see BASELINE.md §4)
KG_PAGES = int(os.environ.get("SPARK_GRAFT_KG_PAGES", "600000"))

# columns the triples stage needs — persisting the full extract output
# (text + blocks) doubles cache size and GC pressure for nothing
_TRIPLES_COLS = ["url", "alias", "basefile", "doc_uri", "lang", "title",
                 "short_title", "head_meta", "rfc_header", "sections",
                 "citations", "parse_ok"]

BENCH_QUERIES = [
    "kg_triples_lift",
    "kg_facet_pivot",
    "kg_stats_counts",
    "facet_toc_pages_topn",
    "news_feeds_topn",
    "status_report",
    "dedup_exact",
    "dedup_minhash_signature",
    "dedup_lsh_pairs",
    "dedup_simhash",
    "dedup_simhash_band_pairs",
    "dedup_ngram_jaccard",
    "dedup_clusters",
    "dedup_lsh_incremental",
    "dedup_embedding_cosine",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "text_quality_score",
    "doc_fingerprint",
    "entity_link",
    "dependency_join",
    "dependency_closure_2hop",
    "citations_rfc_regex",
    "citations_ecj",
    "kg_set_diff",
    "events_hourly_windows",
    "multimodal_features",
    "events_sessionize",
    "text_bpe_pretokens",
    "seq_pack_assign",
    "sample_source_balanced",
    "corpus_prepare_chain",
    "pii_redact",
    "dedup_boilerplate_lines",
    "decontaminate_ngrams",
    "vocab_topk_coverage",
    "text_repetition_signals",
    "web_corpus_scrub_chain",
    "dedup_semantic",
    "tokenize_to_ids",
    "kg_degree_distribution",
    "pagerank_3iter",
    "events_asof_join",
    "events_rollup",
    "dedup_substring_spans",
    "quality_lm_bits",
    "shard_assign",
    "split_train_eval",
    "domain_cap_rank",
    # round-4 additions
    "warc_ingest",
    "multimodal_meta",
    "kg_triangles",
    "bpe_merges",
    "split_from_labels",
    # round-5 additions
    "sparql_construct_annotations",
    "sparql_select",
    "keyword_hub",
    "pdf_metrics",
    "mkpatch_roundtrip",
    "facet_toc_pagesets",
]

# training-data ops re-measured on a synthesized LARGE documents corpus
# (fixtures/documents.py): the driver's sf0.1 documents table holds
# 5,000 ~300-char rows, where these ops are pure fixed overhead —
# SPARK_GRAFT_DOCS (default 100k) rows with controlled dup/boilerplate/
# PII rates gives throughput numbers that mean something.  Reported as
# extras["docs_bench"], NOT in the suite wall (keeps cross-round walls
# comparable).
DOCS_BENCH_QUERIES = [
    "dedup_exact",
    "dedup_minhash_signature",
    "dedup_lsh_pairs_prod",
    "dedup_simhash_band_pairs_prod",
    "dedup_substring_spans",
    "dedup_boilerplate_lines",
    "quality_lm_bits",
    "dsir_importance",
    "corpus_prepare_chain",
    "corpus_to_shards_chain",
    "web_corpus_scrub_chain",
    "tokenize_to_ids",
    "shard_assign",
    "dedup_semantic_prod",
    "ann_ivf_topk_prod",
]


def _noop_write(df):
    df.write.format("noop").mode("overwrite").save()


def prepare_corpus(spark, n_pages: int, cores: int, path: str) -> None:
    """Synthesize the corpus cluster-side ONCE and land it as parquet —
    the timed job then reads from storage exactly like the production
    scan (no RAM-cache pressure distorting the measurement)."""
    from ferenda_spark.fixtures.webpages import web_pages_df_dist

    (web_pages_df_dist(spark, n_pages, partitions=cores * 2)
     .write.mode("overwrite").parquet(path))


def run_kg_pipeline(spark, corpus_path: str, n_pages: int) -> tuple[float, int]:
    """Full scan -> extract -> triples as ONE fused job (the fused
    emission consumes the extract output exactly once, so there is
    nothing to persist); returns (wall_s, n_pages)."""
    from ferenda_spark.fixtures.webpages import commondata_df
    from ferenda_spark.operators.extract import extract
    from ferenda_spark.operators.triples import all_triples

    pages = spark.read.parquet(corpus_path)
    t0 = time.time()
    extracted = extract(pages, fields=_TRIPLES_COLS)
    _noop_write(all_triples(extracted, commondata_df(spark)))
    return time.time() - t0, n_pages


def kg_bench(cores: int, pages: int) -> dict:
    """Steady-state KG throughput at one parallelism level: warmup run
    (python workers + JIT) then best-of-3."""
    import tempfile

    from ferenda_spark.session import get_spark

    spark = get_spark(f"bench_kg_{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    with tempfile.TemporaryDirectory() as td:
        corpus = f"{td}/web_pages"
        prepare_corpus(spark, pages, cores, corpus)
        warm = f"{td}/warm"
        prepare_corpus(spark, max(pages // 8, 200), cores, warm)
        run_kg_pipeline(spark, warm, 0)  # warmup
        wall, n = min(run_kg_pipeline(spark, corpus, pages)
                      for _ in range(3))
    spark.stop()
    return {"sec": round(wall, 3), "docs_per_sec": round(n / wall, 1)}


def docs_bench_one(cores: int, n_docs: int) -> dict:
    """Steady-state throughput of the composed web-corpus scrub chain
    (URL dedup ∥ boilerplate strip -> PII redact -> quality cascade)
    over the synthesized n_docs corpus at one parallelism level —
    the webtext twin of kg_bench for the north-rule scaling evidence.
    Warmup at n/8, then best-of-3."""
    import tempfile

    from ferenda_spark import queries as Q
    from ferenda_spark.fixtures.documents import documents_df_dist
    from ferenda_spark.session import get_spark

    spark = get_spark(f"bench_docs_{cores}", cores=cores,
                      shuffle_partitions=max(cores, 8))
    # r4 rotation moved the chain into the driver window — look it up
    # across both registries so future rotations can't strand this path
    fn = {**Q.registry(), **Q.registry_extra()}["web_corpus_scrub_chain"]
    with tempfile.TemporaryDirectory() as td:
        (documents_df_dist(spark, n_docs)
         .write.mode("overwrite").parquet(f"{td}/documents.parquet"))
        (documents_df_dist(spark, max(n_docs // 8, 500))
         .write.mode("overwrite").parquet(f"{td}/warm/documents.parquet"))
        _noop_write(fn(spark, f"{td}/warm"))  # warmup
        best = float("inf")
        for _ in range(3):
            t0 = time.time()
            _noop_write(fn(spark, td))
            best = min(best, time.time() - t0)
    spark.stop()
    return {"sec": round(best, 3), "docs_per_sec": round(n_docs / best, 1)}


def docs_bench_subprocess(cores: int, n_docs: int) -> dict:
    return _bench_subprocess("--docs-only", cores, n_docs)


def cpu_ceiling(lo: int = 8, hi: int = 32) -> dict:
    """The MACHINE's achievable scaling for pure-CPU multiprocessing
    work between the two parallelism levels (frequency scaling and
    hypervisor sharing cap it well below cores_hi/cores_lo on cloud
    boxes).  The pipeline's efficiency is reported both raw and
    relative to this ceiling."""
    import multiprocessing as mp

    def timed(procs: int) -> float:
        t0 = time.time()
        with mp.Pool(procs) as p:
            p.map(_burn, [3_000_000] * 64)
        return time.time() - t0

    t_lo, t_hi = timed(lo), timed(hi)
    return {"sec_low": round(t_lo, 2), "sec_high": round(t_hi, 2),
            "speedup": round(t_lo / t_hi, 3)}


def _burn(n: int) -> int:
    s = 0
    for i in range(n):
        s += i * i
    return s


def _bench_subprocess(flag: str, cores: int, n: int) -> dict:
    """Run one bench job in a FRESH JVM so both parallelism levels get
    identical cold-start treatment; surface the child's stderr on
    failure instead of dying on a bare IndexError."""
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), flag,
         str(cores), str(n)],
        capture_output=True, text=True, timeout=1200,
        cwd=os.path.dirname(os.path.abspath(__file__)))
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench subprocess {flag} cores={cores} n={n} failed "
            f"(rc={out.returncode}): {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def kg_bench_subprocess(cores: int, pages: int) -> dict:
    return _bench_subprocess("--kg-only", cores, pages)


def main():
    from ferenda_spark import queries as Q
    from ferenda_spark.session import get_spark

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    scaling_on = (os.environ.get("SPARK_GRAFT_SCALING", "1") != "0"
                  and CPUS > 8)

    # KG pipeline at each parallelism level, fresh JVM each.  TWO
    # N-vs-4N pairs: 8->32 is the full-box headline (32 threads = SMT
    # over ~16 physical cores, so its raw efficiency is capped by the
    # machine), 4->16 stays within physical cores and shows the
    # engine's scaling without the SMT distortion.  Each pair is also
    # reported against the machine's own pure-CPU multiprocessing
    # ceiling between the same two levels.
    if scaling_on:
        res_hi = kg_bench_subprocess(CPUS, KG_PAGES)
        res_lo = kg_bench_subprocess(8, KG_PAGES)
        res_16 = kg_bench_subprocess(max(CPUS // 2, 16), KG_PAGES)
        res_4 = kg_bench_subprocess(4, KG_PAGES)
    else:
        res_hi = kg_bench(CPUS, KG_PAGES)
        res_lo = res_16 = res_4 = None

    # operator query suite at full parallelism
    spark = get_spark("bench_queries", cores=CPUS,
                      shuffle_partitions=max(CPUS, 8))
    reg = {**Q.registry(), **Q.registry_extra()}
    _noop_write(reg["kg_triples_lift"](spark, SF_DIR))  # JVM/scan warmup
    # best-of-2 per query: the first run pays Catalyst/codegen compile
    # and python-worker spin-up, the second measures steady state — the
    # same warm-run protocol as the kg job's best-of-3 (BASELINE.md §3);
    # single-shot numbers on this shared VM vary ~2x with hypervisor
    # steal
    queries: dict = {}
    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            _noop_write(reg[name](spark, SF_DIR))
            best = min(best, time.time() - t0)
        queries[name] = round(best, 3)
        # queries persist() intermediates; drop them so query N+1 is
        # measured against a clean executor cache, not N's leftovers
        spark.catalog.clearCache()

    # scaled-corpus pass for the training-data ops (same session — never
    # two Spark jobs at once on this box)
    n_docs = int(os.environ.get("SPARK_GRAFT_DOCS", "100000"))
    docs_bench = None
    if n_docs > 0:
        import tempfile

        from ferenda_spark.fixtures.documents import documents_df_dist
        from ferenda_spark.fixtures.embeddings import embeddings_df_dist

        with tempfile.TemporaryDirectory() as td:
            (documents_df_dist(spark, n_docs)
             .write.mode("overwrite").parquet(f"{td}/documents.parquet"))
            (embeddings_df_dist(spark, n_docs)
             .write.mode("overwrite").parquet(f"{td}/embeddings.parquet"))
            dq: dict = {}
            for name in DOCS_BENCH_QUERIES:
                best = float("inf")
                for _ in range(2):
                    t0 = time.time()
                    _noop_write(reg[name](spark, td))
                    best = min(best, time.time() - t0)
                dq[name] = round(best, 3)
                spark.catalog.clearCache()
            docs_bench = {
                "n_docs": n_docs,
                "queries": dq,
                "docs_per_sec": {k: round(n_docs / v, 1)
                                 for k, v in dq.items()},
            }
    spark.stop()

    queries["kg_pipeline"] = res_hi["sec"]
    total = round(sum(queries.values()), 3)

    extras: dict = {"kg_docs_per_sec": res_hi["docs_per_sec"],
                    "kg_pages": KG_PAGES}
    if docs_bench:
        extras["docs_bench"] = docs_bench

    # webtext scaling pair (opt-in: adds ~3 min of subprocesses; the
    # one-off numbers live in BASELINE.md so the per-round driver
    # bench stays bounded)
    if os.environ.get("SPARK_GRAFT_DOCS_SCALING", "0") != "0" and n_docs:
        dr_hi = docs_bench_subprocess(CPUS, n_docs)
        dr_lo = docs_bench_subprocess(8, n_docs)
        speedup = dr_lo["sec"] / dr_hi["sec"]
        extras["docs_scaling"] = {
            "job": "web_corpus_scrub_chain", "n_docs": n_docs,
            "cores_low": 8, "cores_high": CPUS,
            "sec_low": dr_lo["sec"], "sec_high": dr_hi["sec"],
            "docs_per_sec_low": dr_lo["docs_per_sec"],
            "docs_per_sec_high": dr_hi["docs_per_sec"],
            "speedup": round(speedup, 3),
            "efficiency": round(speedup / (CPUS / 8), 3),
        }
    if res_lo:
        def pair(lo, hi, r_lo, r_hi):
            speedup = r_lo["sec"] / r_hi["sec"]
            ceil = cpu_ceiling(lo, hi)
            return {
                "cores_low": lo, "cores_high": hi,
                "kg_sec_low": r_lo["sec"], "kg_sec_high": r_hi["sec"],
                "docs_per_sec_low": r_lo["docs_per_sec"],
                "docs_per_sec_high": r_hi["docs_per_sec"],
                "speedup": round(speedup, 3),
                "efficiency": round(speedup / (hi / lo), 3),
                "machine_cpu_ceiling_speedup": ceil["speedup"],
                "efficiency_vs_machine_ceiling": round(
                    speedup / ceil["speedup"], 3),
            }

        extras["scaling"] = pair(8, CPUS, res_lo, res_hi)
        extras["scaling_physical"] = pair(4, max(CPUS // 2, 16),
                                          res_4, res_16)

    print(json.dumps({
        "metric": "kg-construct suite wall-clock (extract+triples pipeline "
                  "+ operator queries)",
        "value": total,
        "unit": "sec",
        # suite size grows each round as operators are added (r1: 30,
        # r2: 32, r3: 40) — compare walls per-query, not suite-to-suite
        "n_queries": len(queries),
        "queries": queries,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        **extras,
    }))


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--kg-only":
        print(json.dumps(kg_bench(int(sys.argv[2]), int(sys.argv[3]))))
    elif len(sys.argv) > 1 and sys.argv[1] == "--docs-only":
        print(json.dumps(docs_bench_one(int(sys.argv[2]),
                                        int(sys.argv[3]))))
    else:
        main()
