"""Deduplication family for training-data pipelines.

Five tiers, cheapest first — at 100 TB you run them in this order and
each tier shrinks the next tier's input:

1. **exact** — sha256 content hash, one cheap shuffle of 32-byte
   keys (``q_exact_dedup_docs`` in ``__spark_entry__`` computes it
   inline; ``screen_against_index`` uses it as its first screen);
2. **ngram-Jaccard** — word-shingle inverted index join; exact but
   quadratic per shared shingle, so shingle posting lists are capped
   (same skew reasoning as the LSH bucket cap);
3. **MinHash-LSH** — probabilistic blocking, reuses the linking
   machinery (turtle_spark.operators.linking) over document text;
4. **SimHash** — 64-bit sketch, Hamming-band self-join;
5. **embedding-cosine** — LSH-gated exact cosine edges over an
   embedding column, connected components, keep-smallest canonical.

Exact, ngram, and embedding tiers are SQL-expressible and carry DuckDB
oracles in ``__spark_entry__`` (the embedding tier's components via a
recursive CTE); the text-sketch tiers get golden oracles plus pytest
ground-truth comparisons at small scale.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from turtle_spark.operators import linking, skew


def duplicate_spans(
    docs: DataFrame,
    n: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-span statistics (Lee et al., "Deduplicating
    Training Data Makes Language Models Better"): for every document,
    how many of its word ``n``-gram windows also occur in at least one
    OTHER document.  The per-doc duplicated fraction is the signal
    substring-level dedup thresholds on — boilerplate headers, license
    blocks, and templated pages light up here even when whole-document
    sketches (MinHash/SimHash) stay below threshold.

    Plan shape at scale — everything JVM-side, two aggregations:

    1. narrow pass: split + in-array window transform + explode, then
       ``groupBy(doc, gram_h)`` counts window multiplicity per doc
       (grams move as 16-byte md5 prefixes, never strings);
    2. ``groupBy(gram_h)`` over the per-doc counts (already one row
       per (doc, gram)) computes each gram's document frequency —
       this second shuffle moves one row per DISTINCT (doc, gram),
       the minimum possible;
    3. per-doc totals re-aggregate the step-1 rows joined to the
       step-2 doc frequencies; a window is duplicated iff its gram's
       doc-frequency >= 2 (cross-document repeats — within-doc
       repetition is ``repetition_stats``' job).

    Returns (id_col, n_spans, n_dup_spans, dup_frac) for every doc.
    """
    from turtle_spark.operators.curation import _words

    grams = (
        docs.select(F.col(id_col), _words(text_col).alias("w"))
        .select(
            id_col,
            F.explode(
                F.expr(
                    f"CASE WHEN size(w) >= {n} THEN "
                    f"transform(sequence(1, size(w) - {n} + 1),"
                    f" i -> array_join(slice(w, i, {n}), ' ')) "
                    "ELSE CAST(array() AS array<string>) END"
                )
            ).alias("gram"),
        )
        .select(id_col, F.substring(F.md5("gram"), 1, 16).alias("gram_h"))
        .groupBy(id_col, "gram_h")
        .agg(F.count("*").alias("n_win"))
    )
    # pinned: both the doc-frequency aggregate and the per-doc join
    # reference this subtree; without the pin the split/explode pass
    # and its shuffle run twice (id + 16-byte hash rows — the
    # pinnable projection, never the document text)
    grams = skew.pin(grams)
    doc_freq = grams.groupBy("gram_h").agg(F.count("*").alias("df"))
    per_doc = (
        grams.join(doc_freq, "gram_h")
        .groupBy(id_col)
        .agg(
            F.sum("n_win").alias("n_spans"),
            F.sum(F.when(F.col("df") >= 2, F.col("n_win")).otherwise(0)).alias(
                "n_dup_spans"
            ),
        )
    )
    return docs.select(id_col).join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.when(
            F.coalesce(F.col("n_spans"), F.lit(0)) == 0, F.lit(0.0)
        )
        .otherwise(F.col("n_dup_spans").cast("double") / F.col("n_spans"))
        .alias("dup_frac"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    posting_cap: int | None = 1000,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact word-n-gram Jaccard similar pairs via inverted-index join.

    Plan shape: explode distinct n-grams per doc -> (gram, doc) posting
    lists capped at ``posting_cap`` (stop-gram protection) -> self-join
    on gram -> per-pair intersection counts -> Jaccard against per-doc
    gram counts.  One shuffle on gram, one on the pair key.

    The capping window doubles as the plan's materialization point:
    both self-join branches descend from the SAME windowed exchange, so
    Spark reuses one shuffle and the (expensive) n-gram explode runs
    once.  ``posting_cap=None`` skips it — measured 2x SLOWER despite
    one less shuffle, because each join branch then re-explodes the
    corpus; keep a cap (it is also the stop-gram skew bound at 100 TB).

    ``hash_grams`` shuffles 8-byte xxhash64 gram keys instead of gram
    strings (the join/window key shrinks ~3x; a 64-bit collision would
    need ~2^32 distinct grams to become likely).
    """
    # the word array is MATERIALIZED as a projected column before the
    # gram transform: Catalyst does no common-subexpression elimination
    # inside lambda bodies, so referencing split(...) directly would
    # re-tokenize the document once per gram — O(words^2) per doc
    # (measured 2.7x slower at sf0.1)
    # spread: the gram explode is seconds-per-MB CPU work, so it needs a
    # task per core even when the corpus bytes fit one AQE partition
    words = skew.spread(
        docs.select(
            F.col(id_col).alias("id"),
            F.split(F.trim(F.col(text_col)), r"\s+").alias("_w"),
        ).where(F.size("_w") >= n),
        "id",
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("_w") - n),
            lambda i: F.concat_ws(" ", F.slice("_w", i + 1, n)),
        )
    )
    gram_key = F.xxhash64("gram_str") if hash_grams else F.col("gram_str")
    doc_grams = (
        words.select("id", F.explode(grams).alias("gram_str"))
        .select("id", gram_key.alias("gram"))
    )
    counts = doc_grams.groupBy("id").agg(F.count("*").alias("n_grams"))

    # posting lists are aggregated and pairs expanded IN-ARRAY — a
    # gram-keyed self-join would duplicate the whole explode subtree
    # (exchange reuse does not fire across differently-aliased join
    # branches).  The cap (keep the smallest ``posting_cap`` doc ids,
    # the stop-gram skew bound) is applied by a row_number window
    # BEFORE the list materializes: slice(collect_list(...)) would
    # gather the whole posting list on the final reducer first, so a
    # stop-gram in 10^8 docs would OOM it at web scale; the window
    # sorts (and spills) instead, and its exchange is reused by the
    # groupBy on the same key.  Singleton grams can never witness a
    # pair and are dropped (Zipf tail).
    cap = posting_cap if posting_cap is not None else (1 << 31) - 1
    w_cap = Window.partitionBy("gram").orderBy("id")
    postings = (
        doc_grams.withColumn("_rn", F.row_number().over(w_cap))
        .where(F.col("_rn") <= cap)
        .groupBy("gram")
        .agg(F.sort_array(F.collect_list("id")).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    pair_expr = F.expr(
        """
        flatten(transform(ms, (x, i) ->
          transform(slice(ms, i + 2, size(ms) - i - 1), y ->
            struct(x AS id1, y AS id2))))
        """
    )
    inter = (
        postings.select(F.explode(pair_expr).alias("p"))
        .groupBy("p.id1", "p.id2")
        .agg(F.count("*").alias("n_common"))
    )
    return (
        inter.join(counts.withColumnRenamed("id", "id1").withColumnRenamed("n_grams", "g1"), "id1")
        .join(counts.withColumnRenamed("id", "id2").withColumnRenamed("n_grams", "g2"), "id2")
        .withColumn(
            "jaccard",
            F.round(F.col("n_common") / (F.col("g1") + F.col("g2") - F.col("n_common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_near_duplicates(
    docs: DataFrame,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    bucket_cap: int = 200,
) -> DataFrame:
    """MinHash-LSH near-dup pairs over document text.

    Reuses the linking stage verbatim — documents are just long
    "terms".  Internally keyed by xxhash64 of the doc id (8-byte
    shuffle keys); the ORIGINAL doc ids are joined back for the output
    so callers get actionable (src, dst, jaccard) pairs with
    ``src < dst`` in doc-id order, not opaque hashes.
    """
    # spread BEFORE dropDuplicates: the explicit hash repartition on
    # term_id is reused by the dedup aggregate (same key), so the
    # downstream MinHash banding UDF inherits one partition per core
    # instead of AQE's bytes-sized (often 1) post-shuffle count.
    # PINNED: the plan references base five times (banding, two verify
    # profile joins, two id join-backs) and Catalyst evaluates each
    # reference separately — pinning collapses that to one scan+dedup
    # (interleaved A/B at sf0.1: best 10.1 s -> 5.7 s, identical rows)
    base = skew.pin(
        skew.spread(
            docs.select(
                F.col(id_col).alias("_doc"),
                F.xxhash64(F.col(id_col).cast("string")).alias("term_id"),
                F.col(text_col).alias("term"),
            ),
            "term_id",
        ).dropDuplicates(["term_id"])
    )
    edges = linking.link_terms(
        base.select("term_id", "term"),
        num_perm=num_perm,
        bands=bands,
        shingle_k=shingle_k,
        bucket_cap=bucket_cap,
        threshold=threshold,
    )
    ids = base.select("term_id", "_doc")
    return (
        edges.join(
            ids.select(F.col("term_id").alias("src"), F.col("_doc").alias("_sdoc")), "src"
        )
        .join(
            ids.select(F.col("term_id").alias("dst"), F.col("_doc").alias("_ddoc")), "dst"
        )
        .select(
            F.least("_sdoc", "_ddoc").alias("src"),
            F.greatest("_sdoc", "_ddoc").alias("dst"),
            "jaccard",
        )
    )


def hamming_band_pairs(
    sketches: DataFrame,
    max_hamming: int = 3,
    id_col: str = "id",
    hash_col: str = "sketch",
    n_bands: int = 4,
    bucket_cap: int = 1024,
) -> DataFrame:
    """(id, 64-bit sketch) -> near-dup pairs within ``max_hamming``.

    Band the sketch into ``n_bands`` chunks; pairs within
    ``max_hamming`` (< n_bands) must collide on at least one chunk
    (pigeonhole), so the self-join is band-blocked rather than
    quadratic.  Shared by the SimHash text tier and the perceptual-
    hash image tier — any 64-bit content sketch dedups through this
    one blocked join.

    ``bucket_cap`` bounds each (band, chunk) bucket to its smallest
    ids — the same stop-key skew bound as the MinHash/ngram tiers
    (boilerplate-heavy corpora concentrate sketch chunks).  The cap
    is a row_number window, not slice(collect_list(...)), so reducer
    memory stays bounded for a hot chunk at web scale; dropped
    candidates only cost recall, never the correctness of retained
    pairs."""
    width = 64 // n_bands
    sk = sketches.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("sketch")
    )
    banded = sk.select(
        "id",
        "sketch",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    F.shiftrightunsigned(F.col("sketch"), i * width)
                    .bitwiseAND(F.lit((1 << width) - 1))
                    .alias("chunk"),
                )
                for i in range(n_bands)
            ])
        ).alias("bk"),
    ).select("id", "sketch", "bk.band", "bk.chunk")
    # pairs expand in-array per bucket (one aggregation) — a self-join
    # would duplicate the whole sketch-producing subtree (usually a
    # Python UDF), once per differently-aliased branch, since exchange
    # reuse does not fire across them
    w_cap = Window.partitionBy("band", "chunk").orderBy("id")
    members = (
        banded.withColumn("_rn", F.row_number().over(w_cap))
        .where(F.col("_rn") <= bucket_cap)
        .groupBy("band", "chunk")
        .agg(F.sort_array(F.collect_list(F.struct("id", "sketch"))).alias("ms"))
        .where(F.size("ms") >= 2)
    )
    pair_expr = F.expr(
        """
        flatten(transform(ms, (x, i) ->
          transform(slice(ms, i + 2, size(ms) - i - 1), y ->
            struct(x.id AS id1, x.sketch AS h1, y.id AS id2, y.sketch AS h2))))
        """
    )
    pairs = (
        members.select(F.explode(pair_expr).alias("p"))
        .select("p.id1", "p.h1", "p.id2", "p.h2")
        .dropDuplicates(["id1", "id2"])
    )
    hamming = F.bit_count(F.col("h1").bitwiseXOR(F.col("h2")))
    return (
        pairs.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_hamming)
        .select("id1", "id2", "hamming")
    )


def simhash_near_duplicates(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_bands: int = 4,
    bucket_cap: int = 1024,
) -> DataFrame:
    """SimHash near-dup pairs: 64-bit text sketch per document, then
    the shared Hamming band-blocked pair join (hamming_band_pairs)."""
    from turtle_spark.functions.hashing import simhash64_batch

    @pandas_udf(T.LongType())
    def sh_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash64_batch([(t or "") for t in texts]))

    # spread: one SimHash UDF task per core even on a tiny corpus
    sh = skew.spread(
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t")), "id"
    ).select("id", sh_udf("_t").alias("simhash"))
    return hamming_band_pairs(
        sh,
        max_hamming=max_hamming,
        id_col="id",
        hash_col="simhash",
        n_bands=n_bands,
        bucket_cap=bucket_cap,
    )


def embedding_near_duplicates(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_bits: int = 2,
    n_tables: int = 32,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Tier 5: embedding-cosine near-dup pairs (src, dst, cosine).

    The scale path is the LSH bucket equi-join gate + exact cosine
    re-rank (``similarity.cosine_pairs_lsh``) — never an all-pairs
    join.  The default (2-bit, 32-table) gate keeps the worst-pair
    miss probability ~3e-7 at threshold 0.35, so the output equals the
    brute-force join (pinned by the DuckDB oracle)."""
    from turtle_spark.operators.similarity import cosine_pairs_lsh

    pairs = cosine_pairs_lsh(
        embeddings,
        dim=dim,
        threshold=threshold,
        n_bits=n_bits,
        n_tables=n_tables,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    return pairs.select(
        F.col("id1").alias("src"), F.col("id2").alias("dst"), "cosine"
    )


def embedding_dedup(
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.35,
    n_bits: int = 2,
    n_tables: int = 32,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Canonical mapping for the embedding tier: every vector that has
    at least one near-duplicate maps to the minimum id of its
    connected near-dup component — (id_col, canonical_id) rows.

    Transitive closure (components, not raw pairs) is deliberate: the
    keep/drop decision must be consistent when a~b and b~c but a!~c,
    and large-star/small-star converges in O(log n) shuffles at any
    component diameter.  Isolated vectors don't appear (nothing to
    dedup); callers left-join and coalesce to self."""
    from turtle_spark.operators.cc import connected_components

    edges = embedding_near_duplicates(
        embeddings,
        dim=dim,
        threshold=threshold,
        n_bits=n_bits,
        n_tables=n_tables,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    )
    comps = connected_components(edges.select("src", "dst"))
    return comps.select(
        F.col("node").alias(id_col), F.col("component").alias("canonical_id")
    )


@dataclass
class NoveltyIndex:
    """Precomputed dedup index of an existing corpus.

    ``bands``    — (doc_id, band_index, band_hash): MinHash-LSH keys,
                   one row per (doc, band).  At 10^12 docs this is the
                   table you bucket BY (band_index, band_hash) so every
                   incoming batch joins it shuffle-free on the index
                   side.
    ``profiles`` — (doc_id, content_hash, shs, nw): sha256 of the text
                   plus the distinct-shingle set and its size.  ``nw``
                   is the DISTINCT shingle count (char_shingle_hashes
                   returns np.unique per doc), NOT the raw window
                   count — the Jaccard computed from it is set
                   semantics, which is exactly what the goldens'
                   jaccard_shingles pins.  Do not "fix" it to raw
                   windows; that breaks golden parity.
    """

    bands: DataFrame
    profiles: DataFrame


def build_novelty_index(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    seed: int = 7,
) -> NoveltyIndex:
    """Build the cross-snapshot dedup index of a corpus — computed
    ONCE per snapshot, persisted, and joined against by every incoming
    batch (training pipelines dedup new crawls against everything
    already ingested, not just within the batch)."""
    from turtle_spark.operators import linking

    # pinned: an index is a MATERIALIZED artifact — at real scale both
    # tables are written once per snapshot and read by every batch;
    # in-memory use models that with persist, so screening does not
    # re-run the corpus sketch UDFs once per reference (profiles is
    # joined twice per screen: exact hash + near verify)
    base = skew.pin(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("term"))
    )
    band_keys = skew.pin(
        linking.lsh_band_keys(
            base.withColumnRenamed("doc_id", "term_id"),
            num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed,
        ).select(F.col("term_id").alias("doc_id"), "band_index", "band_hash")
    )
    profiles = skew.pin(
        linking.shingle_profiles(
            base.withColumnRenamed("doc_id", "term_id"), shingle_k
        )
        .select(F.col("term_id").alias("doc_id"), "shs", "nw")
        .join(
            base.select("doc_id", F.sha2(F.col("term"), 256).alias("content_hash")),
            "doc_id",
        )
    )
    return NoveltyIndex(bands=band_keys, profiles=profiles)


def screen_against_index(
    new_docs: DataFrame,
    index: NoveltyIndex,
    threshold: float = 0.7,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 128,
    bands: int = 32,
    shingle_k: int = 5,
    seed: int = 7,
    candidate_cap: int = 64,
) -> DataFrame:
    """Incremental dedup: label every new document against an existing
    corpus index — (doc_id, status, matched_id, jaccard) with status
    'exact' (byte-identical text exists), 'near' (shingle Jaccard >=
    threshold vs some corpus doc), or 'novel'.

    Scale shape: only the BATCH side computes sketches (O(batch), not
    O(corpus)); candidates come from an equi-join of batch band keys
    against the index's band table (bucketed on the join key at rest,
    so the corpus side never shuffles); ``candidate_cap`` bounds a new
    doc that lands in boilerplate-hot buckets to its cap smallest
    corpus candidates (same contract as the LSH tiers: dropped
    candidates cost recall only).  Matched ids are deterministic:
    exact -> smallest matching corpus id; near -> highest Jaccard,
    ties to the smallest id.
    """
    from turtle_spark.operators import linking

    batch = skew.pin(
        skew.spread(
            new_docs.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("term")
            ),
            "doc_id",
        )
    )
    # exact tier: content-hash equi-join (the cheapest screen first)
    exact = (
        batch.select("doc_id", F.sha2("term", 256).alias("content_hash"))
        .join(
            index.profiles.select(
                F.col("doc_id").alias("_old"), "content_hash"
            ),
            "content_hash",
        )
        .groupBy("doc_id")
        .agg(F.min("_old").alias("exact_match"))
    )
    # near tier: batch band keys vs the index band table
    batch_bands = linking.lsh_band_keys(
        batch.withColumnRenamed("doc_id", "term_id"),
        num_perm=num_perm, bands=bands, shingle_k=shingle_k, seed=seed,
    ).select(F.col("term_id").alias("doc_id"), "band_index", "band_hash")
    w_cap = Window.partitionBy("doc_id").orderBy("_old")
    candidates = (
        batch_bands.join(
            index.bands.select(
                F.col("doc_id").alias("_old"), "band_index", "band_hash"
            ),
            ["band_index", "band_hash"],
        )
        .select("doc_id", "_old")
        .dropDuplicates()
        .withColumn("_rn", F.row_number().over(w_cap))
        .where(F.col("_rn") <= candidate_cap)
        .drop("_rn")
    )
    batch_profiles = linking.shingle_profiles(
        batch.withColumnRenamed("doc_id", "term_id"), shingle_k
    ).select(F.col("term_id").alias("doc_id"), "shs", "nw")
    joined = (
        candidates.join(batch_profiles, "doc_id")
        .join(
            index.profiles.select(
                F.col("doc_id").alias("_old"),
                F.col("shs").alias("_oshs"),
                F.col("nw").alias("_onw"),
            ),
            "_old",
        )
    )
    inter = F.size(F.array_intersect("shs", "_oshs"))
    union = F.col("nw") + F.col("_onw") - inter
    jac = F.when(union == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / union.cast("double")
    )
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("_old")
    )
    near = (
        joined.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .withColumn("_rn", F.row_number().over(w_best))
        .where(F.col("_rn") == 1)
        .select("doc_id", F.col("_old").alias("near_match"), "jaccard")
    )
    return (
        batch.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_match").isNotNull(), F.lit("exact"))
            .when(F.col("near_match").isNotNull(), F.lit("near"))
            .otherwise(F.lit("novel"))
            .alias("status"),
            F.coalesce("exact_match", "near_match").alias("matched_id"),
            F.when(
                F.col("exact_match").isNull(), F.col("jaccard")
            ).alias("jaccard"),
        )
    )


def substring_clean(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    with_text: bool = True,
) -> DataFrame:
    """Exact duplicated-substring REMOVAL (the apply step of Lee et
    al.'s substring dedup — ``duplicate_spans`` is the measure step):
    every word ``k``-gram window whose gram occurs >= 2 times in the
    WHOLE corpus (cross-doc or within-doc) is a duplicated window; the
    tokens it covers are merged into maximal covered runs (overlapping
    or contiguous windows coalesce) and cut out of the document.

    Plan shape at scale — all JVM-side, two shuffles plus one window:

    1. narrow pass: split + in-array window transform + ``posexplode``
       -> (doc, pos, gram_h) postings, grams travelling as 16-byte md5
       prefixes (never strings);
    2. ``groupBy(gram_h)`` corpus-occurrence counts (map-side partial
       agg), joined back to the pinned postings — one shuffle each
       side of the join, both on the 16-byte key;
    3. gaps-and-islands per doc entirely with window functions: a new
       run starts when ``pos - max(prev pos) > k`` (the previous
       window's last covered token is ``prev + k - 1``, so a window at
       ``prev + k`` is contiguous and coalesces); run extents via one
       ``groupBy(doc, island)``.

    The cleaned text is rebuilt in-array (``filter`` over token index
    against the doc's merged spans — spans per doc are few, so the
    nested ``exists`` is O(tokens * spans) with tiny constants), never
    in Python.

    Returns (id_col, n_tokens, n_dup_windows, n_spans, removed_tokens,
    kept_tokens, removed_frac[, cleaned_text]).
    """
    from turtle_spark.operators.curation import _words

    toks = docs.select(F.col(id_col), _words(text_col).alias("w")).select(
        id_col, "w", F.size("w").alias("n_tokens")
    )
    postings = (
        toks.select(
            id_col,
            F.posexplode(
                F.expr(
                    f"CASE WHEN size(w) >= {k} THEN "
                    f"transform(sequence(1, size(w) - {k} + 1),"
                    f" i -> substring(md5(array_join(slice(w, i, {k}), ' ')), 1, 16)) "
                    "ELSE CAST(array() AS array<string>) END"
                )
            ).alias("pos0", "gram_h"),
        )
        # 1-based window start (matches the SQL twin's range(1, ...))
        .select(id_col, (F.col("pos0") + 1).alias("pos"), "gram_h")
    )
    # pinned: the corpus-count aggregate and the postings join both
    # descend from this subtree; the pin stops the split/explode pass
    # (the expensive narrow stage) from running twice
    postings = skew.pin(postings)
    cnt = postings.groupBy("gram_h").agg(F.count("*").alias("occ"))
    dup = (
        postings.join(cnt.where(F.col("occ") >= 2), "gram_h")
        .select(id_col, "pos")
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = (
        dup.withColumn("_prev", F.max("pos").over(w_prev))
        .withColumn(
            "_new",
            F.when(
                F.col("_prev").isNull() | (F.col("pos") - F.col("_prev") > k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("island", F.sum("_new").over(w_run))
    )
    spans = islands.groupBy(id_col, "island").agg(
        F.min("pos").alias("s"),
        (F.max("pos") + F.lit(k - 1)).alias("e"),
        F.count("*").alias("n_win"),
    )
    per_doc = spans.groupBy(id_col).agg(
        F.sum("n_win").alias("n_dup_windows"),
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("removed_tokens"),
        F.collect_list(F.struct("s", "e")).alias("_spans"),
    )
    out = toks.join(per_doc, id_col, "left").select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("removed_tokens", F.lit(0)).cast("long").alias("removed_tokens"),
        (F.col("n_tokens") - F.coalesce("removed_tokens", F.lit(0)))
        .cast("long")
        .alias("kept_tokens"),
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.coalesce("removed_tokens", F.lit(0)).cast("double")
            / F.col("n_tokens")
        )
        .alias("removed_frac"),
        "w",
        "_spans",
    )
    if with_text:
        out = out.withColumn(
            "cleaned_text",
            F.expr(
                "array_join(filter(transform(w, (t, i) -> "
                "CASE WHEN _spans IS NULL THEN t "
                "WHEN exists(_spans, sp -> i + 1 >= sp.s AND i + 1 <= sp.e) "
                "THEN CAST(NULL AS STRING) ELSE t END), t -> t IS NOT NULL), ' ')"
            ),
        )
    return out.drop("w", "_spans")
