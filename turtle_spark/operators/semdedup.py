"""SemDeDup-style semantic deduplication (Abbas et al. 2023,
arXiv:2303.09540): k-means-cluster the embedding space, find
near-duplicate pairs ONLY within each cluster, and keep one
representative per duplicate group — the member most peripheral to
its cluster centroid (low centroid-similarity examples carry the
most marginal information; the paper's keep rule).

This is the sixth dedup tier (after exact / ngram / MinHash /
SimHash / LSH-gated cosine, ``operators/dedup.py``): where tier 5
answers "which vectors are near-duplicates anywhere in the corpus",
SemDeDup trades that global guarantee for a partition-friendly
O(n·d·k + Σ|cluster|²) cost model and a *semantic* keep rule.

Scale design (the reason each stage looks the way it does):

* centroid training is a bounded, seeded, order-stable sample
  (``similarity.train_ivf_centroids`` — one small collect at any
  corpus size, Lloyd iterations on a few-MB matrix);
* assignment is one vectorized Arrow matmul per batch
  (``similarity.ivf_assign``) — no shuffle;
* centroid similarity is computed JVM-side (left-fold
  ``F.aggregate`` dot against a broadcast 16-row centroid table) so
  the value is bit-identical at any parallelism and mirrors exactly
  in the numpy golden;
* the pair stage is an in-array expansion per cluster (one
  aggregation — a self-join would duplicate the assignment-UDF
  subtree per alias), capped at ``cluster_cap`` members by smallest
  id: at 10^12 docs a degenerate mega-cluster costs recall, never
  reducer memory;
* duplicate groups are transitive closures (large-star/small-star
  connected components) so keep/drop decisions are consistent when
  a~b and b~c but a!~c.

The reference repo has no dedup surface (it is a Turtle parser,
``/root/reference``); this operator is part of the training-data
pipeline family the brief adds on top (SURVEY.md §2.2).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from turtle_spark.operators.similarity import (
    _dot,
    _norm,
    ivf_assign,
    train_ivf_centroids,
)

__all__ = ["semantic_dedup"]


def _with_cluster_and_csim(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Assign each vector to its nearest centroid and attach the
    centroid cosine similarity.

    The cluster id comes from the Arrow-batched argmax
    (``ivf_assign``); the *similarity value* is recomputed JVM-side
    as a left-fold dot against a broadcast centroid table — numpy's
    BLAS matmul and a sequential fold can differ in the last ulp,
    and the keep rule sorts by this value, so the engine pins the
    fold order the golden can replicate exactly.

    The input is ``spread()`` first: a small embeddings parquet scans
    as one partition, which would run the assignment UDF and every
    downstream fold on a single core (no-op at cluster scale, where
    the scan already has a partition per core).
    """
    from turtle_spark.operators.skew import spread

    embeddings = spread(embeddings)
    spark = embeddings.sparkSession
    cents64 = centroids.astype(np.float64)
    cent_rows = pd.DataFrame(
        {
            "cluster": list(range(len(cents64))),
            "_cent": [list(map(float, c)) for c in cents64],
        }
    )
    cent_df = spark.createDataFrame(cent_rows)
    assigned = ivf_assign(embeddings, centroids, n_probe=1, vec_col=vec_col)
    # each vector's norm is computed ONCE here and reused by every
    # pair it appears in (same float64 value as recomputing per pair,
    # so the goldens are unaffected; the pair stage does ~2 members'
    # worth of fold work per pair otherwise)
    return (
        assigned.join(F.broadcast(cent_df), "cluster")
        .withColumn("_vnorm", _norm(F.col(vec_col)))
        .withColumn(
            "csim",
            F.round(
                _dot(F.col(vec_col), F.col("_cent"))
                / (F.col("_vnorm") * _norm(F.col("_cent"))),
                6,
            ),
        )
        .drop("_cent")
    )


def _cluster_pairs(
    assigned: DataFrame,
    threshold: float,
    cluster_cap: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Capped within-cluster pair expansion + exact cosine filter:
    (cluster, id1, id2, cosine) with id1 < id2, cosine >= threshold.

    In-array expansion per cluster (one aggregation, no self-join);
    ``cluster_cap`` keeps each cluster to its smallest ids via a
    row_number window, so reducer memory stays bounded for a
    degenerate mega-cluster — dropped candidates cost recall only.
    """
    w_cap = Window.partitionBy("cluster").orderBy(id_col)
    members = (
        assigned.withColumn("_rn", F.row_number().over(w_cap))
        .where(F.col("_rn") <= cluster_cap)
        .groupBy("cluster")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(id_col).alias("id"),
                        F.col(vec_col).alias("v"),
                        F.col("_vnorm").alias("n"),
                    )
                )
            ).alias("ms")
        )
        .where(F.size("ms") >= 2)
    )
    pair_expr = F.expr(
        """
        flatten(transform(ms, (x, i) ->
          transform(slice(ms, i + 2, size(ms) - i - 1), y ->
            struct(x.id AS id1, x.v AS v1, x.n AS n1,
                   y.id AS id2, y.v AS v2, y.n AS n2))))
        """
    )
    cosine = F.round(
        _dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2")), 6
    )
    return (
        members.select("cluster", F.explode(pair_expr).alias("p"))
        .select("cluster", "p.id1", "p.v1", "p.n1", "p.id2", "p.v2", "p.n2")
        .withColumn("cosine", cosine)
        .where(F.col("cosine") >= threshold)
        .select("cluster", "id1", "id2", "cosine")
    )


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.35,
    n_clusters: int = 16,
    cluster_cap: int = 4096,
    seed: int = 13,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup keep/drop decisions for every vector that belongs to
    a within-cluster near-duplicate group.

    Returns (id_col, component, keep_id, csim, kept): ``component``
    is the connected near-dup group (min member id), ``keep_id`` the
    member the group retains — LOWEST centroid similarity wins, id
    ascending as the tie-break (deterministic at any parallelism
    because ``csim`` is a fold-ordered, rounded double).  Vectors
    with no near-duplicate don't appear (nothing to decide); callers
    left-join and coalesce.
    """
    from turtle_spark.operators.cc import connected_components
    from turtle_spark.operators.skew import pin

    cents = train_ivf_centroids(
        embeddings, n_centroids=n_clusters, seed=seed,
        vec_col=vec_col, id_col=id_col,
    )
    # referenced by both the pair stage and the csim join-back — pin
    # so the assignment UDF subtree evaluates once
    assigned = pin(_with_cluster_and_csim(embeddings, cents, id_col, vec_col))

    edges = _cluster_pairs(
        assigned, threshold, cluster_cap, id_col, vec_col
    ).select(F.col("id1").alias("src"), F.col("id2").alias("dst"))
    comps = connected_components(edges)
    nodes = comps.join(
        assigned.select(F.col(id_col).alias("node"), "csim"), "node"
    )
    keep = nodes.groupBy("component").agg(
        F.min(F.struct("csim", "node")).alias("_k")
    ).select("component", F.col("_k.node").alias("keep_id"))
    return (
        nodes.join(keep, "component")
        .select(
            F.col("node").alias(id_col),
            "component",
            "keep_id",
            "csim",
            (F.col("node") == F.col("keep_id")).alias("kept"),
        )
    )
