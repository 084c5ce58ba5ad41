"""Output checks on a commit, read back with DuckDB from the parquet the
commit wrote and compared with the fixture goldens.

- extracted text of a url sample is byte-identical to the golden text;
- triple precision and recall on that sample are at least 0.95 against
  the golden triples;
- the batch's triple-table row count equals ``n_triples``;
- the batch extracted exactly the pages expected pending.
"""

from __future__ import annotations

import duckdb

KEY = ["url", "subj", "pred", "obj", "obj_is_uri", "obj_lang",
       "obj_datatype"]
MIN_PR = 0.95


def _read(con, path: str, cols: str, batch: str, urls: list[str]):
    con.execute("CREATE OR REPLACE TEMP TABLE sample(url VARCHAR)")
    con.executemany("INSERT INTO sample VALUES (?)", [(u,) for u in urls])
    return con.execute(
        f"SELECT {cols} FROM read_parquet(?, hive_partitioning = true) "
        "WHERE batch = ? AND url IN (SELECT url FROM sample)",
        [path + "/**/*.parquet", batch]).fetchall()


def check_commit(out_dir: str, commit, pending_rows: list[dict],
                 sample: int = 50) -> list[str]:
    """Problems found in ``commit``; ``pending_rows`` are the fixture
    rows the commit should have extracted, goldens included."""
    problems = []
    if commit.n_extracted != len(pending_rows):
        problems.append(f"pending {commit.n_extracted} != expected "
                        f"{len(pending_rows)}")
    if commit.batch is None:
        return problems + ["no batch committed"]
    step = max(1, len(pending_rows) // sample)
    rows = pending_rows[::step][:sample]
    golden = {r["url"]: r["golden"] for r in rows}
    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        got_text = dict(_read(con, f"{out_dir}/extracted", "url, text",
                              commit.batch, list(golden)))
        got = set(_read(con, f"{out_dir}/triples", ", ".join(KEY),
                        commit.batch, list(golden)))
        n_rows = con.execute(
            "SELECT count(*) FROM read_parquet(?, hive_partitioning = true)"
            " WHERE batch = ?",
            [f"{out_dir}/triples/**/*.parquet", commit.batch]).fetchone()[0]
    finally:
        con.close()
    bad_text = [u for u, g in golden.items() if got_text.get(u) != g["text"]]
    if bad_text:
        problems.append(f"text differs for {len(bad_text)} of "
                        f"{len(golden)} sampled urls, e.g. {bad_text[0]}")
    want = {(u, t["subj"], t["pred"], t["obj"], t["obj_is_uri"],
             t["obj_lang"], t["obj_datatype"])
            for u, g in golden.items() for t in g["triples"]}
    hit = len(got & want)
    precision, recall = hit / max(len(got), 1), hit / max(len(want), 1)
    if precision < MIN_PR or recall < MIN_PR:
        problems.append(f"triple P/R {precision:.3f}/{recall:.3f} "
                        f"< {MIN_PR}")
    if n_rows != commit.n_triples:
        problems.append(f"triple rows {n_rows} != n_triples "
                        f"{commit.n_triples}")
    return problems
