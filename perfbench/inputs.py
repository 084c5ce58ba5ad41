"""Workload inputs: fixture pages from ``fixtures.webpages.gen_row``
written as parquet crawl segments.  Everything here is a pure function
of the seed, so the same seed gives the same files.

A page's url depends only on its index ``i`` and its html on the seed,
so regenerating index ``i`` under another seed is a re-crawl of the
same url with changed content.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from ferenda_spark.fixtures.webpages import gen_row

# pages per parquet file: a crawl segment.  Spark reads one segment as
# one input split, so the segment count sets the commit's task count.
SEGMENT_PAGES = 4000

_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def write_pages(rows: list[dict], path: str) -> int:
    """Write ``rows`` as a directory of parquet segments; returns the
    input html bytes."""
    os.makedirs(path, exist_ok=True)
    for k in range(0, len(rows), SEGMENT_PAGES):
        seg = rows[k:k + SEGMENT_PAGES]
        table = pa.table({
            "url": [r["url"] for r in seg],
            "warc_ts": [r["warc_ts"] for r in seg],
            "html": [r["html"] for r in seg],
            "text": [None] * len(seg),
            "lang": [r["lang"] for r in seg],
        }, schema=_SCHEMA)
        pq.write_table(table, f"{path}/part-{k // SEGMENT_PAGES:05d}.parquet")
    return sum(len(r["html"]) for r in rows)


def fresh_pages(start: int, n: int, seed: int) -> list[dict]:
    return [gen_row(i, seed) for i in range(start, start + n)]


class ServeBatches:
    """The serve_mixed commit stream over a prior graph of pages
    ``[0, n_prior)``.  Batch ``k`` offers ``n_new`` never-seen urls,
    ``n_changed`` prior urls re-crawled with changed html, and
    ``n_unchanged`` prior rows with their committed html, which the
    checkpoint must skip.  Changed and unchanged indices come from one
    seeded permutation of the prior range, so no prior url is offered
    twice across batches."""

    def __init__(self, seed: int, n_prior: int, n_new: int,
                 n_changed: int, n_unchanged: int):
        self.seed = seed
        self.n_prior = n_prior
        self.n_new, self.n_changed, self.n_unchanged = (
            n_new, n_changed, n_unchanged)
        self.order = list(range(n_prior))
        random.Random(seed).shuffle(self.order)

    @property
    def max_batches(self) -> int:
        return self.n_prior // (self.n_changed + self.n_unchanged)

    def batch(self, k: int) -> tuple[list[dict], list[dict]]:
        """(rows offered, rows expected pending) for batch ``k``."""
        if k >= self.max_batches:
            raise ValueError(f"serve batch {k} exceeds the prior graph")
        per = self.n_changed + self.n_unchanged
        picks = self.order[k * per:(k + 1) * per]
        start = self.n_prior + k * self.n_new
        new = fresh_pages(start, self.n_new, self.seed)
        changed = [self._recrawl(i, k) for i in picks[:self.n_changed]]
        unchanged = [gen_row(i, self.seed) for i in picks[self.n_changed:]]
        return new + changed + unchanged, new + changed

    def _recrawl(self, i: int, k: int) -> dict:
        """Page ``i`` under another seed.  A few families draw little
        from the seed (an sfs page varies only in two title words), so
        step the seed until the html really differs from the committed
        version."""
        committed = gen_row(i, self.seed)["html"]
        s = self.seed + 1 + k
        row = gen_row(i, s)
        while row["html"] == committed:
            s += 1_000_003
            row = gen_row(i, s)
        return row
