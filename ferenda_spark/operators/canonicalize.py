"""Entity canonicalization & cross-document joins (SURVEY.md §2 J1-J5).

- lookup_labels: J1 label->URI entity linking (broadcast; salted variant
  for dictionaries too big to broadcast) — reference lookup_resource
  (/root/reference/ferenda/documentrepository.py:439-485)
- dependency_join: J2 — which documents reference which
  (relate_dependencies, documentrepository.py:1889-1926)
- skeleton_entities: J4 — URIs referenced but never described
  (sources/general/skeleton.py:16-142)
- J3 (transitive isPartOf closure + inbound references,
  construct_annotations, documentrepository.py:2471-2502,
  res/sparql/annotations.rq) is not here: the annotations.rq query
  itself compiles through operators/sparql.py, whose isPartOf* closure
  is exact (queries.q_sparql_construct_annotations)

Scale notes: the dictionary side of J1 is small => broadcast hash join,
which is immune to Zipfian label skew (no shuffle of the fact side's hot
key).  When the dictionary outgrows the broadcast threshold, use
``salted_join``: explode the dim side SALT ways, salt the fact side with
pmod(hash(row), SALT) — bounded skew without AQE's per-partition limits.
J2 is a self-join of the triple table on URI keys: shuffle hash join on
(obj = subj-prefix) with AQE skew splitting enabled (session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ferenda_spark import ns


def lookup_labels(facts: DataFrame, commondata: DataFrame,
                  label_col: str = "label",
                  lookup_pred: str = ns.FOAF_NAME) -> DataFrame:
    """J1: resolve facts[label_col] to entity URIs; adds ``ent_uri``
    (null when unmatched -> caller falls back to the literal)."""
    dim = (commondata.where(F.col("pred") == lookup_pred)
           .select(F.col("label").alias(label_col),
                   F.col("uri").alias("ent_uri")))
    return facts.join(F.broadcast(dim), label_col, "left")


def lookup_labels_fuzzy(facts: DataFrame, commondata: DataFrame,
                        label_col: str = "label",
                        lookup_pred: str = ns.FOAF_NAME,
                        cutoff: float = 0.8) -> DataFrame:
    """J1 with the reference's fuzzy fallback
    (documentrepository.py:472-485: exact label match first, then
    difflib.get_close_matches(cutoff=0.8) against the dictionary).

    Spark form: broadcast exact join; the UNMATCHED DISTINCT labels
    (a tiny set) get an edit-distance residual pass against the
    broadcast dictionary — similarity = 1 - levenshtein/max(len),
    best match per label wins (ties broken by label).  Adds ``ent_uri``
    (null = no match above cutoff -> caller falls back to the literal)
    and ``match_kind`` ('exact' | 'fuzzy' | null).

    Scale shape: the fact side never shuffles; the fuzzy cross join is
    |distinct unmatched labels| x |dictionary| — both bounded, never
    corpus-sized."""
    dim = (commondata.where(F.col("pred") == lookup_pred)
           .select(F.col("label").alias("_dim_label"),
                   F.col("uri").alias("ent_uri")))
    lbl = F.col(label_col)
    exact = facts.join(F.broadcast(dim), lbl == F.col("_dim_label"), "left")
    matched = (exact.where(F.col("ent_uri").isNotNull())
               .drop("_dim_label")
               .withColumn("match_kind", F.lit("exact")))
    un = exact.where(F.col("ent_uri").isNull()).drop("_dim_label", "ent_uri")

    sim = (F.lit(1.0) - F.levenshtein(lbl, F.col("_dim_label"))
           / F.greatest(F.length(lbl), F.length("_dim_label")))
    w = Window.partitionBy(label_col).orderBy(F.desc("sim"),
                                              F.asc("_dim_label"))
    fuzzy_map = (un.select(lbl.alias(label_col)).distinct()
                 .join(F.broadcast(dim))
                 .withColumn("sim", sim)
                 .where(F.col("sim") >= cutoff)
                 .withColumn("rn", F.row_number().over(w))
                 .where("rn = 1")
                 .select(label_col, "ent_uri"))
    fuzzy = (un.join(F.broadcast(fuzzy_map), label_col, "left")
             .withColumn("match_kind",
                         F.when(F.col("ent_uri").isNotNull(), "fuzzy")))
    return matched.unionByName(fuzzy.select(*matched.columns))


def salted_join(facts: DataFrame, dim: DataFrame, key: str,
                salt: int = 16, how: str = "left") -> DataFrame:
    """Skew-safe equi-join for a dim side too large to broadcast: the dim
    rows are replicated ``salt`` ways, facts are salted deterministically,
    so one hot key spreads over ``salt`` reducers (SURVEY.md §4)."""
    salted_dim = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    salted_facts = facts.withColumn(
        "_salt", F.pmod(F.hash(F.struct(*facts.columns)), F.lit(salt)))
    out = salted_facts.join(salted_dim, [key, "_salt"], how)
    return out.drop("_salt")


def _dep_objs(triples: DataFrame, extra_cols: tuple = ()) -> DataFrame:
    """The object-URI projection of the J2 join: every URI object except
    rdf:type / owl:sameAs, fragment split off (the dependency is on the
    whole target document)."""
    return (
        triples.where("obj_is_uri")
        .where(~F.col("pred").isin(ns.RDF_TYPE, ns.term("owl", "sameAs")))
        .select(F.col("url").alias("from_url"),
                F.split(F.col("obj"), "#")[0].alias("target_doc"),
                *extra_cols)
    )


def dependency_join(triples: DataFrame) -> DataFrame:
    """J2: dependencies(from_url, to_url) — every URI object that is the
    subject (or subject-document) of some OTHER document.  The reference
    probes each repo's basefile_from_uri per object URI in a Python loop
    (documentrepository.py:1889-1926); here it is one self-join.

    Excludes rdf:type / owl:sameAs objects like the reference does."""
    objs = _dep_objs(triples)
    docs = triples.select(F.col("url").alias("to_url")).distinct()
    return (
        objs.join(docs, objs.target_doc == docs.to_url, "inner")
        .where(F.col("from_url") != F.col("to_url"))
        .select("from_url", "to_url")
        .dropDuplicates()
    )


def incremental_dependency_join(triples_new: DataFrame,
                                triples_prior: DataFrame) -> DataFrame:
    """J2 maintained INCREMENTALLY (VERDICT r01 #4): the dependency rows
    a new batch adds are exactly

      (a) the new batch's object URIs joined against ALL documents, plus
      (b) the prior graph's object URIs joined against documents that
          FIRST appear in this batch (broadcast — the new-doc set is
          batch-sized, never corpus-sized).

    ``triples_prior`` may be the raw append log of earlier batches or a
    view of it (``pipeline.current_triples``): when it has a
    ``commit_ts`` column, each url keeps only the rows of its latest
    commit, by one ``max(commit_ts) over (partition by url)`` window.
    The window runs over all of a url's rows before the object-URI
    filter, so a url whose latest version cites nothing does not fall
    back to an older version's citations; on a view it keeps every row.
    The prior documents and the prior object URIs both come from that
    one windowed frame, so the prior log is read twice (once per side)
    and never aggregated separately.

    Commit cost is O(new batch) + narrow column scans of the prior
    graph's (url, commit_ts, pred, obj) projection — never a full-graph
    self-join.  Rows carry ``from_commit_ts`` (the from-document's
    version stamp) so the current-version view can drop superseded rows
    (pipeline.py)."""
    has_ts = "commit_ts" in triples_new.columns
    extra = ("commit_ts",) if has_ts else ()

    if "commit_ts" in triples_prior.columns:
        latest = F.max("commit_ts").over(Window.partitionBy("url"))
        triples_prior = (triples_prior.withColumn("_latest_ts", latest)
                         .where(F.col("commit_ts") == F.col("_latest_ts"))
                         .drop("_latest_ts"))

    objs_new = _dep_objs(triples_new, extra)
    docs_new = triples_new.select(F.col("url").alias("to_url")).distinct()
    docs_prior = triples_prior.select(F.col("url").alias("to_url")).distinct()
    docs_all = docs_prior.unionByName(docs_new).distinct()

    a = objs_new.join(docs_all, objs_new.target_doc == docs_all.to_url)

    brand_new = docs_new.join(docs_prior, "to_url", "left_anti")
    objs_prior = _dep_objs(triples_prior, extra)
    b = objs_prior.join(F.broadcast(brand_new),
                        objs_prior.target_doc == F.col("to_url"))

    cols = ["from_url", "to_url"] + (["from_commit_ts"] if has_ts else [])
    out = (a.unionByName(b)
           .where(F.col("from_url") != F.col("to_url")))
    if has_ts:
        out = out.withColumnRenamed("commit_ts", "from_commit_ts")
    return out.select(*cols).dropDuplicates()


def skeleton_entities(triples: DataFrame) -> DataFrame:
    """J4: referenced-but-never-described URIs -> stub rows
    (left ANTI join, skeleton.py:16-142)."""
    referenced = (
        triples.where("obj_is_uri")
        .where(F.col("pred") != ns.RDF_TYPE)
        .select(F.split(F.col("obj"), "#")[0].alias("uri"))
        .distinct()
    )
    described = triples.select(F.col("subj").alias("uri")).distinct()
    return (
        referenced.join(described, "uri", "left_anti")
        .select(
            F.col("uri").alias("subj"),
            F.lit(ns.RDF_TYPE).alias("pred"),
            F.lit(ns.FOAF_DOCUMENT).alias("obj"),
            F.lit(True).alias("obj_is_uri"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_datatype"),
        )
    )
