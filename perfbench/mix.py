"""The query mix and its independent DuckDB evaluation.

Three requests over the ``current_triples`` view, the way a reader of
the graph calls them:

- ``sparql_select``: a BGP join with a FILTER;
- ``sparql_path``: ``dcterms:isPartOf+`` to a bound document;
- ``api_facet``: ``faceted_query`` with a publisher wildcard.

``Mix.oracle`` answers each request with DuckDB straight from the
parquet files of the triple log (latest ``commit_ts`` per url, as the
view defines it), sharing no code with the engine.
"""

from __future__ import annotations

import duckdb

from ferenda_spark import ns
from ferenda_spark.fixtures.webpages import canonical_uri

FACET_SUFFIX = "/ext/network-working-group"

SELECT_Q = """PREFIX dcterms: <http://purl.org/dc/terms/>
SELECT ?doc ?title ?pub WHERE {
  ?doc dcterms:publisher ?pub ;
       dcterms:title ?title .
  FILTER(regex(?title, "Protocol"))
}"""

PATH_Q = """PREFIX dcterms: <http://purl.org/dc/terms/>
SELECT ?part WHERE { ?part dcterms:isPartOf+ <%s> }"""

_PIVOT = {
    "rdf_type": ns.RDF_TYPE,
    "dcterms_title": ns.DCT_TITLE,
    "dcterms_identifier": ns.DCT_IDENTIFIER,
    "dcterms_issued": ns.DCT_ISSUED,
    "dcterms_publisher": ns.DCT_PUBLISHER,
}


def _lit(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


class Mix:
    """The three requests for one workload.  The path request binds an
    rfc document (index ``i % 10 == 3``) chosen from the seed among the
    first ``n_docs`` pages, which every commit stream keeps in the
    graph."""

    def __init__(self, seed: int, n_docs: int):
        i = 3 + 10 * (seed % max(1, n_docs // 10))
        self.doc = canonical_uri("rfc", str(1000 + i))
        self.requests = [
            ("sparql_select", "sparql", SELECT_Q),
            ("sparql_path", "sparql", PATH_Q % self.doc),
            ("api_facet", "api", {"dcterms_publisher": "*" + FACET_SUFFIX}),
        ]

    def oracle(self, triples_dir: str) -> dict:
        con = duckdb.connect()
        try:
            con.execute("SET threads = 2")
            con.execute(
                "CREATE VIEW t AS SELECT * FROM read_parquet("
                f"{_lit(triples_dir + '/**/*.parquet')}, "
                "hive_partitioning = true)")
            # the current view, read once: every request below scans it
            con.execute(
                "CREATE TABLE cur AS SELECT t.* FROM t JOIN "
                "(SELECT url, max(commit_ts) AS m FROM t GROUP BY url) l "
                "ON t.url = l.url AND t.commit_ts = l.m")
            select = con.execute(
                "SELECT p.subj, ti.obj, p.obj FROM cur p JOIN cur ti "
                "ON p.subj = ti.subj "
                f"WHERE p.pred = {_lit(ns.DCT_PUBLISHER)} "
                f"AND ti.pred = {_lit(ns.DCT_TITLE)} "
                "AND regexp_matches(ti.obj, 'Protocol')").fetchall()
            path = con.execute(
                "WITH RECURSIVE e AS (SELECT subj AS s, obj AS o FROM cur "
                f"WHERE pred = {_lit(ns.DCT_ISPARTOF)}), "
                f"r(s) AS (SELECT s FROM e WHERE o = {_lit(self.doc)} "
                "UNION SELECT e.s FROM e JOIN r ON e.o = r.s) "
                "SELECT s FROM r").fetchall()
            cols = ", ".join(
                f"max(CASE WHEN pred = {_lit(p)} THEN obj END) AS {k}"
                for k, p in _PIVOT.items())
            con.execute(
                f"CREATE VIEW piv AS SELECT subj, {cols} FROM cur "
                "WHERE NOT contains(subj, '#') GROUP BY subj")
            where = f"WHERE ends_with(dcterms_publisher, {_lit(FACET_SUFFIX)})"
            total = con.execute(
                f"SELECT count(*) FROM piv {where}").fetchone()[0]
            page = con.execute(
                f"SELECT subj, {', '.join(_PIVOT)} FROM piv {where} "
                "ORDER BY subj LIMIT 10").fetchall()
        finally:
            con.close()
        return {"sparql_select": select, "sparql_path": path,
                "api_facet": (total, page)}

    @staticmethod
    def normalize(name: str, answer):
        """Comparable form of an engine or oracle answer: row sets for
        SPARQL (order is unspecified), (total, ordered page) for the
        API."""
        if name != "api_facet":
            return sorted(tuple(r) for r in answer)
        if isinstance(answer, tuple):
            return answer[0], [tuple(r) for r in answer[1]]
        page = [(it["iri"], it["rdf_type"], it["dcterms_title"],
                 it["dcterms_identifier"], it["dcterms_issued"],
                 it["dcterms_publisher"]["iri"]) for it in answer["items"]]
        return answer["totalResults"], page

    def check(self, answers: dict, oracle: dict) -> list[str]:
        """Names of the requests whose answer differs from the oracle,
        plus any that came back empty (an empty answer checks nothing)."""
        bad = []
        for name, _, _ in self.requests:
            got = self.normalize(name, answers.get(name, []))
            want = self.normalize(name, oracle[name])
            empty = (not want[1]) if name == "api_facet" else not want
            if got != want or empty:
                bad.append(name)
        return bad
