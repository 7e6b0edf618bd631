"""SemDeDup-style semantic deduplication over an embedding column.

The SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540): cluster the
corpus embeddings with k-means, then inside each cluster drop every
document whose cosine similarity to another cluster member exceeds a
threshold, keeping one representative per near-duplicate group.

Spark shape:
- Centroid assignment is `ivf_assign_fast`: the k-row centroid table
  rides the task closure and each Arrow batch scores every centroid
  with one matmul, so the corpus is never shuffled for assignment.
- The intra-cluster pair scan is ONE shuffle on cent_id, then one
  NumPy matmul per cluster inside applyInPandas. Cost is Σ|cluster|² —
  never corpus², and the operator's scale knob is n_centroids: at
  100 TB you raise k so the expected cluster size keeps Σ|cluster|²
  bounded (SemDeDup used k=50k for a 1.3e9-doc corpus, ~25k
  docs/cluster). Skewed clusters are the hazard; sub-salting oversized
  clusters is deliberately NOT done here because dropping across salt
  boundaries would miss pairs — raise k instead.
- Keep rule: a document is a duplicate iff some SAME-CLUSTER member
  with a LOWER id is >= tau similar (keep-first; same documented
  non-transitive semantics as pipelines/dedup.near_dedup).

Production centroids come from `kmeans_centroids` (pyspark.ml); the
deterministic first-n-by-id default exists so an external SQL oracle
can replicate the full pipeline bit-for-bit.

No counterpart in the reference repo (no corpus/embedding tooling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webloghunter_spark.functions.numeric import round_half_up
from webloghunter_spark.functions.similarity import (
    hyperplane_bucket_expr,
    ivf_assign_fast,
)

# columns of one cluster's similarity slab per matmul: a task holds a
# (|c| x dim) matrix plus a (|c| x _BLOCK) slab
_BLOCK = 4096


def semantic_dup_flags(
    df: DataFrame,
    centroids: DataFrame | None = None,
    n_centroids: int = 8,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """(id, cent_id, max_sim, is_dup) for every vector.

    max_sim = highest cosine to a lower-id member of the same cluster,
    rounded half-up to `round_digits` (NULL for the cluster's lowest
    id); is_dup = max_sim >= tau.

    Each task holds one cluster's (|c| x dim) float64 matrix plus a
    (|c| x 4096) similarity slab, so size n_centroids for |c| in the
    low tens of thousands. Skewed clusters are split only by raising
    k."""
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = df.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("centroid")
        )
    assigned = ivf_assign_fast(df, centroids, vec_col=vec_col, id_col=id_col)
    members = df.select(id_col, vec_col).join(assigned, id_col)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col).reset_index(drop=True)
        v = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        n = len(pdf)
        norms = np.sqrt((v * v).sum(axis=1))
        max_sim = np.full(n, np.nan)
        for j0 in range(1, n, _BLOCK):
            j1 = min(j0 + _BLOCK, n)
            # rows 0..j1-1 against columns j0..j1-1; mask i >= j
            s = (v[:j1] @ v[j0:j1].T) / np.outer(norms[:j1], norms[j0:j1])
            # half-up like F.round/DuckDB (np.round is banker's)
            s = round_half_up(s, round_digits)
            i_idx = np.arange(j1)[:, None]
            j_idx = np.arange(j0, j1)[None, :]
            s[i_idx >= j_idx] = -np.inf
            max_sim[j0:j1] = s.max(axis=0)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cent_id": pdf["cent_id"],
                "max_sim": max_sim,
                "is_dup": np.where(np.isnan(max_sim), False, max_sim >= tau),
            }
        )

    return members.groupBy("cent_id").applyInPandas(
        kern, f"{id_col} long, cent_id long, max_sim double, is_dup boolean"
    )


def semantic_dedup(
    df: DataFrame,
    centroids: DataFrame | None = None,
    n_centroids: int = 8,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus with semantic near-duplicates removed (left-anti against
    the is_dup list — bounded by duplicate volume, not corpus size)."""
    flags = semantic_dup_flags(df, centroids, n_centroids, tau, id_col, vec_col)
    drop = flags.filter(F.col("is_dup")).select(id_col)
    return df.join(drop, id_col, "left_anti")


def density_sample(
    df: DataFrame,
    cap: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    num_planes: int = 4,
    dim: int = 64,
    seed: str = "density",
) -> DataFrame:
    """Diversity-preserving downsampling in embedding space (the
    density-equalization step of DataComp/SemDeDup-style curation:
    web corpora are wildly non-uniform in embedding space, and
    training quality improves when over-dense regions are thinned
    rather than sampled proportionally): bucket every vector with the
    deterministic hyperplane-LSH hash (the knn_lsh/emb_drift bucket
    family — no trained model, any engine re-derives it), then keep at
    most `cap` vectors per bucket, winners chosen by the seeded
    md5(seed|id) order key (the sample_exact_k convention).

    Each kept row carries its bucket's population and an integer
    inverse-density importance weight — ``weight_micro = bucket_n *
    1_000_000 div kept_n`` — so a downstream loss can unbias the
    thinning (survivors of a 10000-vector bucket capped at 100 carry
    100x the weight of an uncut bucket's rows). Weights are exact
    integers in any engine.

    Returns (id_col, bucket, bucket_n, keep_rank, weight_micro).

    Scale: ONE exchange on the bucket id; the count and the top-cap
    rank ride the same window partitioning. 2^num_planes must exceed
    the cluster's parallelism for balance — and the hot buckets that
    would straggle a sort are exactly the ones the cap truncates, so
    size num_planes to the corpus (more planes = finer cells), not to
    the machine.
    """
    if cap <= 0:
        raise ValueError(f"cap must be > 0, got {cap}")
    from pyspark.sql import Window as W

    from webloghunter_spark.pipelines.shard import order_key_expr

    bucketed = df.select(
        F.col(id_col),
        hyperplane_bucket_expr(vec_col, num_planes, dim).alias("bucket"),
        order_key_expr(id_col, seed).alias("_k"),
    )
    w = W.partitionBy("bucket")
    out = bucketed.withColumn(
        "bucket_n", F.count(F.lit(1)).over(w).cast("long")
    ).withColumn(
        "keep_rank",
        F.row_number().over(w.orderBy("_k", id_col)).cast("long"),
    )
    return (
        out.filter(F.col("keep_rank") <= int(cap))
        .select(
            id_col,
            "bucket",
            "bucket_n",
            "keep_rank",
            F.expr(f"bucket_n * 1000000 div least(bucket_n, {int(cap)})")
            .cast("long")
            .alias("weight_micro"),
        )
    )
