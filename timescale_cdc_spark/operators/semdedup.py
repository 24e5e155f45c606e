"""Semantic deduplication over an embedding column — the SemDeDup
recipe (Abbas et al., 2023, "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication", arXiv:2303.09540): cluster
the embeddings with KMeans, then within each cluster drop every item
whose cosine similarity to a HIGHER-RANKED cluster member exceeds
``eps``, where rank orders by similarity to the cluster centroid.
With the paper's ``keep='far'`` policy the member FARTHEST from the
centroid outranks the rest, so each semantic group keeps its
least-typical exemplar (the paper's best-performing choice for
training-data diversity); ``keep='near'`` keeps the most-typical one.

This complements the exact/LSH near-duplicate operators (dedup.py,
similarity.py): MinHash/SimHash catch lexical copies, embedding LSH
pairs catch ~identical vectors (cos ≥ 0.99); SemDeDup prunes
SEMANTIC redundancy at much lower thresholds (the paper uses ~0.95
on web data) where banding recall collapses but a cluster-bounded
exact scan is cheap.

100 TB shape: KMeans fits on a sample (cluster SHAPES, not every
point — ``sample_fraction='auto'`` is the DEFAULT since round 9 and
caps the fit input at ~1M rows), assignment is one broadcast-centroid
map-side pass, and the only shuffle is the within-cluster self-join
on ``_cell`` — cost Σ m_c² bounded by ``max_cluster`` (rank cap, same
guard family as dedup.py's hot-bucket cap, default ON). More clusters
→ smaller m_c; the paper runs 50k clusters at web scale. Cluster-count
sizing rule (paper's operating point): ``n_clusters ≈ n / 2000`` —
~2k members per cell keeps the per-cell pair work ≈ 4M and the total
candidate count ≈ 2000·n, linear in the corpus. ``cell_stats`` reports
the realized max cell size and Σ m_c² so a skewed fit is visible
(the 200k-vector soak in SCALE.md reads them). No CartesianProduct
(the join is equi on _cell; pinned by test), cosines are pure JVM
higher-order expressions, verdicts one groupBy — no Python anywhere.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.functions.ident import sql_qualified
from timescale_cdc_spark.operators.similarity import cosine

#: 'auto' sample_fraction caps the KMeans fit input at this many rows.
FIT_SAMPLE_TARGET = 1_000_000


def semantic_dedup_marks(
    df: DataFrame,
    eps: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far",
    sample_fraction: float | str | None = "auto",
    max_cluster: int | None = 65536,
    seed: int = 42,
) -> DataFrame:
    """One row per input id: ``(id, _cell, cent_cos, kept)``.

    ``sample_fraction`` controls the KMeans FIT input (assignment
    always covers every row): a float samples that fraction, ``None``
    fits on the full input, and the default ``'auto'`` fits on
    ``min(1, FIT_SAMPLE_TARGET / n)`` of the data — the documented
    100 TB shape (the fit learns cluster SHAPES; a 1M-row sample is
    plenty for any n_clusters this module recommends) at the price of
    one count() over the input. Round 9: 'auto' replaced the unsampled
    default so the scale-safe path is what you get by default.

    ``kept`` is False iff some member of the same cluster with higher
    rank (per ``keep``; ties broken by id, so the verdict is
    deterministic) has cosine ≥ ``eps`` with this item — the paper's
    upper-triangular-max rule, which does NOT re-check whether the
    earlier member itself survived (a duplicate of a duplicate still
    drops; transitive-chain semantics are what
    ``curation.curate(transitive=True)`` provides when wanted).

    ``max_cluster`` caps how many members per cluster may act as
    DROPPERS (rank ≤ cap still fully judged; beyond it, items keep
    their own verdicts against the capped front only) — bounding the
    self-join at m·cap instead of m² for degenerate clusters. At the
    default 65536 the cap never engages below ~4B vectors at the
    paper's 50k-cluster operating point.
    """
    if keep not in ("far", "near"):
        raise ValueError(f"keep must be 'far' or 'near', got {keep!r}")
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_vec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_fv"),
    )
    if sample_fraction == "auto":
        n = vecs.count()
        sample_fraction = (
            min(1.0, FIT_SAMPLE_TARGET / n) if n else 1.0
        )
        if sample_fraction >= 1.0:
            sample_fraction = None
    fit_input = (
        vecs.sample(fraction=sample_fraction, seed=seed)
        if sample_fraction
        else vecs
    )
    km = KMeans(
        k=n_clusters, seed=seed, featuresCol="_fv", predictionCol="_cell"
    )
    model = km.fit(fit_input)
    cent = df.sparkSession.createDataFrame(
        [
            (ci, [float(x) for x in np.asarray(c)])
            for ci, c in enumerate(model.clusterCenters())
        ],
        schema="_cell int, _centroid array<double>",
    )
    assigned = (
        model.transform(vecs)
        .select("_id", "_vec", "_cell")
        .join(F.broadcast(cent), "_cell")
        .withColumn(
            "cent_cos",
            F.round(cosine("_vec", "_centroid"), 8),
        )
        .drop("_centroid")
    )
    order = (
        [F.asc("cent_cos"), F.asc("_id")]
        if keep == "far"
        else [F.desc("cent_cos"), F.asc("_id")]
    )
    ranked = assigned.withColumn(
        "_r", F.row_number().over(Window.partitionBy("_cell").orderBy(*order))
    )
    a = ranked.alias("a").hint("shuffle_hash")
    b = ranked.alias("b").hint("shuffle_hash")
    cond = (F.col("a._cell") == F.col("b._cell")) & (
        F.col("a._r") < F.col("b._r")
    )
    if max_cluster is not None:
        cond = cond & (F.col("a._r") <= F.lit(max_cluster))
    dup_of_earlier = (
        a.join(b, cond)
        .withColumn(
            "_cos",
            cosine(sql_qualified("a", "_vec"), sql_qualified("b", "_vec")),
        )
        .where(F.col("_cos") >= eps)
        .select(F.col("b._id").alias("_id"))
        .distinct()
    )
    return (
        ranked.join(dup_of_earlier.withColumn("_dup", F.lit(True)),
                    "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "_cell",
            "cent_cos",
            F.col("_dup").isNull().alias("kept"),
        )
    )


def cell_stats(marks: DataFrame) -> DataFrame:
    """Guard telemetry over a :func:`semantic_dedup_marks` result (the
    dedup.py hot-bucket-cap reporting pattern, VERDICT r8 #5): one row
    ``(n_cells, max_cell, sum_m2, n_rows, n_kept)`` where ``sum_m2`` =
    Σ m_c·(m_c−1)/2 — the UNCAPPED within-cell pair count the
    self-join would do with no ``max_cluster`` rank cap. Compare
    ``max_cell`` against the cap and ``sum_m2`` against all-pairs
    n·(n−1)/2 to see whether the clustering actually bounded the work
    (the 200k-vector soak in SCALE.md reads both). One groupBy over the
    marks — no second pass over the vectors."""
    per_cell = marks.groupBy("_cell").agg(
        F.count("*").alias("m"),
        F.sum(F.col("kept").cast("long")).alias("k"),
    )
    return per_cell.agg(
        F.count("*").alias("n_cells"),
        F.max("m").alias("max_cell"),
        F.sum(F.col("m") * (F.col("m") - 1) / 2).cast("long").alias("sum_m2"),
        F.sum("m").alias("n_rows"),
        F.sum("k").alias("n_kept"),
    )


def semantic_dedup(
    df: DataFrame,
    eps: float = 0.95,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep: str = "far",
    sample_fraction: float | str | None = "auto",
    max_cluster: int | None = 65536,
    seed: int = 42,
) -> DataFrame:
    """The survivors: input rows whose id is ``kept`` by
    :func:`semantic_dedup_marks` (all original columns preserved,
    plus ``_cell`` / ``cent_cos`` for downstream stratification —
    e.g. cluster-balanced sampling, the paper's follow-up move)."""
    marks = semantic_dedup_marks(
        df,
        eps=eps,
        n_clusters=n_clusters,
        id_col=id_col,
        vec_col=vec_col,
        keep=keep,
        sample_fraction=sample_fraction,
        max_cluster=max_cluster,
        seed=seed,
    )
    return df.join(
        marks.where("kept").select(id_col, "_cell", "cent_cos"), id_col
    )
