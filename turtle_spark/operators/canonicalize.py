"""Stage D' — canonical-map construction and application.

Takes CC assignments over term_ids and rewrites the triple stream so
every linked surface form uses its component's canonical term (the
lexicographically smallest term in the component — deterministic and
partitioning-independent).

Join strategy: the canonical map is usually tiny relative to the
triple stream (distinct linked terms << triple occurrences), so it is
broadcast when under the configured row threshold, else it falls back
to a shuffle join on the 8-byte term_id.  Blank nodes are doc-scoped
by the parser; ``globalize_blank_nodes`` uniquifies them across the
corpus by prefixing doc_id — a pure column expression, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BROADCAST_MAP_MAX_ROWS = 5_000_000  # ~8B key + term bytes; well under 8GB limit


def canonical_map(terms: DataFrame, assignments: DataFrame) -> DataFrame:
    """(term_id, term) x (node, component) -> (term_id, term,
    canonical_term).

    Canonical representative = min term string within the component.
    Terms not in any component are identity-mapped out (absent rows).
    The source ``term`` string rides along so the apply step can guard
    the hash join with exact string equality (see apply_canonical_map).
    """
    labeled = terms.join(
        assignments, terms["term_id"] == assignments["node"], "inner"
    ).select("term_id", "term", "component")
    reps = labeled.groupBy("component").agg(F.min("term").alias("canonical_term"))
    return (
        labeled.join(reps, "component")
        .where(F.col("term") != F.col("canonical_term"))
        .select("term_id", "term", "canonical_term")
    )


def apply_canonical_map(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite subject/object through the canonical map.

    Two left joins keyed on xxhash64 of the string, each GUARDED by
    exact string equality on the carried ``term``: the 8-byte hash
    stays the shuffle/broadcast key (cheap at 10^12 terms), but a
    64-bit collision — a certainty at that scale, ~n^2/2^65 expected —
    can then never rewrite an unrelated subject; the collided row
    simply doesn't match and passes through unchanged.  The map side
    is broadcast when it has at most ``BROADCAST_MAP_MAX_ROWS`` rows.
    Literal objects are never rewritten.
    """
    use_broadcast = cmap.count() <= BROADCAST_MAP_MAX_ROWS
    m = F.broadcast(cmap) if use_broadcast else cmap

    sub_map = m.select(
        F.col("term_id").alias("_sid"),
        F.col("term").alias("_sterm"),
        F.col("canonical_term").alias("_scanon"),
    )
    obj_map = m.select(
        F.col("term_id").alias("_oid"),
        F.col("term").alias("_oterm"),
        F.col("canonical_term").alias("_ocanon"),
    )

    out = (
        triples.withColumn("_sk", F.xxhash64("subject"))
        .withColumn(
            "_ok",
            F.when(F.col("objecttype") == "iri", F.xxhash64("object")),
        )
        .join(
            sub_map,
            (F.col("_sk") == F.col("_sid")) & (F.col("subject") == F.col("_sterm")),
            "left",
        )
        .join(
            obj_map,
            (F.col("_ok") == F.col("_oid")) & (F.col("object") == F.col("_oterm")),
            "left",
        )
        .withColumn("subject", F.coalesce("_scanon", "subject"))
        .withColumn("object", F.coalesce("_ocanon", "object"))
        .drop("_sk", "_ok", "_sid", "_oid", "_sterm", "_oterm", "_scanon", "_ocanon")
    )
    return out


def globalize_blank_nodes(triples: DataFrame) -> DataFrame:
    """Uniquify doc-scoped blank nodes across the corpus.

    ``_:b0`` in doc A and doc B are different nodes; prefixing with the
    doc_id (``_:doc-000001#b0``) makes the union of all documents a
    well-formed graph.  Pure column expressions — no shuffle, stays in
    whole-stage codegen.
    """

    def fix(col: str) -> F.Column:
        c = F.col(col)
        return F.when(
            c.startswith("_:"),
            F.concat(F.lit("_:"), F.col("doc_id"), F.lit("#"), c.substr(F.lit(3), F.length(c))),
        ).otherwise(c)

    return triples.withColumn("subject", fix("subject")).withColumn(
        "object",
        F.when(F.col("objecttype") == "iri", fix("object")).otherwise(F.col("object")),
    )


def dedup_triples(triples: DataFrame) -> DataFrame:
    """Corpus-level exact dedup (serialization semantics, graph/graph.go:81-96)."""
    return triples.dropDuplicates(
        ["subject", "predicate", "object", "label", "datatype", "objecttype"]
    )


def alias_sameas_edges(triples: DataFrame) -> DataFrame:
    """Instance-level identity links from alias-form IRIs.

    The entity-resolution counterpart of
    ``reasoning.alignment_schema`` (which canonicalizes the SCHEMA):
    IRI entities whose names differ only by a trailing numeric alias
    suffix (optionally underscore-separated) — ``.../graph_4``,
    ``.../graph17`` — are declared owl:sameAs one another, keyed by
    the shared stem; an entity whose full IRI equals a stem joins
    that group as the base form.  Namespace-only stems (ending in
    ``/ : #``) are excluded: ``.../thing/123`` is an instance path,
    not an alias form.  Because the equivalence is defined by KEY
    EQUALITY, the edge set is one groupBy(stem) producing STAR edges
    to the group minimum — never a quadratic pair expansion, and the
    downstream CC converges in one round.  Output: (src, dst) entity-
    string pairs, src != dst.
    """
    ent = F.col("entity")
    subjects = triples.select(F.col("subject").alias("entity"))
    objects = triples.where(F.col("objecttype") == "iri").select(
        F.col("object").alias("entity")
    )
    entities = (
        subjects.unionByName(objects)
        .where(~ent.startswith("_:"))
        .dropDuplicates()
    )
    stem = F.regexp_replace(ent, r"_?[0-9]+$", "")
    keyed = entities.select(ent, stem.alias("stem")).where(
        (F.col("stem") != "") & ~F.col("stem").rlike(r"[/:#]$")
    )
    reps = keyed.groupBy("stem").agg(
        F.min("entity").alias("dst"), F.count("*").alias("_n")
    )
    return (
        keyed.join(reps.where(F.col("_n") >= 2), "stem")
        .where(ent != F.col("dst"))
        .select(ent.alias("src"), "dst")
    )


def sameas_canonicalize(triples: DataFrame, sameas: DataFrame) -> DataFrame:
    """owl:sameAs closure -> canonical triple SET.

    ``sameas`` is any (src, dst) entity-string pair relation —
    declared owl:sameAs statements, alias links, or entity-linking
    output.  Identity is transitive, so the pairs are closed with
    distributed connected components over 8-byte xxhash64 node ids;
    each component's lexicographically smallest entity becomes the
    canonical IRI (partitioning-independent), every triple is
    rewritten through the collision-guarded canonical map, and the
    rewritten graph is deduplicated to SET semantics (merging aliases
    collapses formerly-distinct triples).
    """
    from turtle_spark.operators.cc import connected_components

    terms = (
        sameas.select(F.col("src").alias("term"))
        .unionByName(sameas.select(F.col("dst").alias("term")))
        .dropDuplicates()
        .select(F.xxhash64("term").alias("term_id"), "term")
    )
    edges = sameas.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    assignments = connected_components(edges)
    cmap = canonical_map(terms, assignments)
    return dedup_triples(apply_canonical_map(triples, cmap))


def canonical_blank_labels(triples: DataFrame, rounds: int = 4) -> DataFrame:
    """Deterministic structural labels for blank nodes — the
    distributed analogue of RDF dataset canonicalization's first-
    degree/N-degree hashing (public URDNA2015 / RDFC-1.0 algorithm
    family), realized as Weisfeiler-Lehman color refinement restricted
    to the blank-node-induced subgraph.

    Each blank node starts with a uniform color; every round rehashes
    it from the SORTED multiset of its incident triple signatures —
    ``direction | predicate | ground-term`` for edges to IRIs or
    literals (the full term: lexical + label + datatype), and
    ``direction | predicate | neighbor-color`` for edges to other
    blank nodes.  After ``rounds`` iterations two blank nodes carry
    the same label iff their r-neighborhood structures are
    indistinguishable — structurally isomorphic anonymous nodes
    (property lists, collection spines) collapse to one class, the
    property that makes serialized graphs diffable and anonymous
    content dedupable.  ``rounds=4`` covers the parser's own output:
    bracket/collection chains nest a handful of levels, and one round
    propagates one level.

    Spark shape: the blank adjacency is a tiny slice of the corpus
    (and DOC-LOCAL by construction — ``globalize_blank_nodes`` scopes
    labels per document, so no component spans documents).  Each round
    is one left join of that slice against the current color table on
    the blank-node key plus one groupBy — shuffle volume O(blank
    edges) per round, corpus untouched.  ``sort_array`` fan-in per
    node is the node's degree: bounded by the grammar's bracket arity,
    not the corpus.  Everything is column expressions; bit-identical
    at any parallelism (sorted multisets erase partition order).

    Returns (bnode, canon) — canon is the signed-64 structural label.
    """
    is_bn_obj = (F.col("objecttype") == "iri") & F.col("object").startswith("_:")
    ground = F.concat_ws("\x1e", "object", "label", "datatype", "objecttype")

    out_edges = triples.where(F.col("subject").startswith("_:")).select(
        F.col("subject").alias("bnode"),
        F.lit("out").alias("dir"),
        "predicate",
        F.when(is_bn_obj, F.col("object")).alias("neigh"),
        F.when(~is_bn_obj, ground).alias("term"),
    )
    in_edges = triples.where(is_bn_obj).select(
        F.col("object").alias("bnode"),
        F.lit("in").alias("dir"),
        "predicate",
        F.when(F.col("subject").startswith("_:"), F.col("subject")).alias("neigh"),
        F.when(~F.col("subject").startswith("_:"), F.col("subject")).alias("term"),
    )
    edges = out_edges.unionByName(in_edges)

    from turtle_spark.operators.skew import pin

    edges = pin(edges)
    colors = edges.select("bnode").dropDuplicates().select(
        "bnode", F.xxhash64(F.lit("bn")).alias("h")
    )
    for _ in range(rounds):
        contrib = edges.join(
            colors.select(F.col("bnode").alias("neigh"), F.col("h").alias("nh")),
            "neigh",
            "left",
        ).select(
            "bnode",
            F.concat_ws(
                "\x1f",
                "dir",
                "predicate",
                F.coalesce(F.col("nh").cast("string"), F.col("term")),
            ).alias("sig"),
        )
        colors = contrib.groupBy("bnode").agg(
            F.xxhash64(
                F.concat_ws("\x1d", F.sort_array(F.collect_list("sig")))
            ).alias("h")
        )
    return colors.select("bnode", F.col("h").alias("canon"))
