"""Product-quantization ANN index (SURVEY.md §2 C3 extension — the
billion-vector compression standard; Jégou, Douze, Schmid, "Product
Quantization for Nearest Neighbor Search", IEEE TPAMI 2011).

PQ splits each d-dim vector into ``m`` subspaces of d/m dims and
quantizes each subspace independently against its own ``k_sub``-entry
codebook: a vector becomes ``m`` small integers (e.g. 64 dims × float
→ 8 bytes of codes at m=8/k_sub=256 — a 32× compression), and
approximate distances are computed WITHOUT decompressing via ADC
(asymmetric distance computation): per query, precompute the m×k_sub
table of exact sub-distances query↔codebook entry, then a candidate's
distance is just m table lookups summed.

Spark-native split of the work (who computes what, and why):

* **Training** (once): ``m`` independent spark.ml KMeans fits on the
  vector slices — distributed, sample-able (``sample_fraction``) like
  IvfIndex's coarse quantizer.
* **Encoding** (once per corpus, bulk): Arrow-batched ``mapInPandas``
  — encoding is pure dense matrix math (batch × k_sub × d flops per
  subspace), exactly the numpy-vectorized shape; the codebooks ride
  into the closure (m × k_sub × d/m doubles — ~130 KB at
  production sizes). The JVM-expression alternative (corpus ×
  broadcast-codebook join + min_by) multiplies the corpus by
  m × k_sub rows — the explode anti-pattern at scale.
* **Query scoring** (every query batch, the hot path): pure JVM
  expressions. Queries are the SMALL side: the per-query LUT is built
  with one broadcast join against the codebook table (|q| × m × k_sub
  rows — bounded by the query batch) and collected into one flat
  array per query; candidates are scored with
  ``aggregate(zip_with(code, lut-offsets))`` — whole-stage codegen,
  ZERO Python per candidate, which is where the 100 TB bytes are.
* **Re-rank** (optional, recommended): exact cosine on the ADC top-R
  per query from the raw vectors — the standard ADC→exact refine
  step; R bounds the exact work per query.

Storage (the index classes live in operators/vindex.py — ``PQ`` and
``IVF,PQ`` compositions of the persisted-index core; IVF,PQ adds
``centroids/`` and ``_cell=<k>`` partitions and encodes residuals):

    <path>/codebooks/   (_j int, _cid int, _centroid array<double>)
    <path>/codes/       (c_id long, _code array<int>)
    <path>/raw/         (c_id long, c_vec array<float>)   for re-rank
    <path>/meta/        (m, k_sub, dim, n_at_build)
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _train_subquantizers(
    fit_base: DataFrame, vec_col: str, m: int, d_sub: int, k_sub: int,
    seed: int,
) -> list[tuple[int, int, list[float]]]:
    """m independent spark.ml KMeans fits on the vector slices →
    codebook rows (_j, _cid, centroid). Shared by PqIndex (raw
    vectors) and IvfPqIndex (residuals)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cb_rows: list[tuple[int, int, list[float]]] = []
    for j in range(m):
        sub = fit_base.select(
            array_to_vector(
                F.slice(F.col(vec_col), j * d_sub + 1, d_sub).cast(
                    "array<double>"
                )
            ).alias("_fv")
        )
        model = KMeans(
            k=k_sub, seed=seed + j, featuresCol="_fv", predictionCol="_cid"
        ).fit(sub)
        for cid, c in enumerate(model.clusterCenters()):
            cb_rows.append((j, cid, [float(x) for x in np.asarray(c)]))
    return cb_rows


def _encode_with_books(
    df: DataFrame,
    vec_col: str,
    cb_rows: list[tuple[int, int, list[float]]],
    m: int,
    d_sub: int,
    k_sub: int,
    extra_cols: list[str],
) -> DataFrame:
    """Arrow-batched PQ encode: argmin sub-centroid per subspace, as
    one numpy matmul per subspace per batch; codebooks ride in the
    closure (~m × k_sub × d_sub doubles). Returns (c_id, *extra_cols,
    _code array<int>)."""
    books = np.zeros((m, k_sub, d_sub))
    for j, cid, c in cb_rows:
        books[j, cid] = c

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            V = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            n = V.shape[0]
            codes = np.empty((n, m), dtype=np.int32)
            for j in range(m):
                sub = V[:, j * d_sub:(j + 1) * d_sub]
                C = books[j]
                # ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖²; ‖x‖² is constant per
                # row, irrelevant to the argmin
                dists = -2.0 * (sub @ C.T) + (C * C).sum(axis=1)
                codes[:, j] = dists.argmin(axis=1)
            out = {"c_id": pdf["c_id"], "_code": list(codes)}
            for c in extra_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    extra_schema = "".join(f", {c} int" for c in extra_cols)
    return df.mapInPandas(
        encode, schema=f"c_id long{extra_schema}, _code array<int>"
    )


def _adc_expr(m: int, k_sub: int):
    """Candidate ADC score: m lookups into the flat per-query LUT,
    summed — pure whole-stage-codegen expressions."""
    offsets = F.sequence(F.lit(0), F.lit(m - 1))
    return F.aggregate(
        F.zip_with(
            F.col("_code"),
            offsets,
            lambda c, j: F.element_at(
                F.col("_lut"), (j * k_sub + c + 1).cast("int")
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def __getattr__(name: str):
    """``PqIndex`` (FAISS ``PQ``) and ``IvfPqIndex`` (``IVF,PQ``) are
    compositions of the persisted-index core (operators/vindex.py),
    served lazily from their historic import path — vindex imports
    this module's training/encoding helpers, so an eager import here
    would be circular."""
    if name in ("PqIndex", "IvfPqIndex"):
        from timescale_cdc_spark.operators import vindex

        return getattr(vindex, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

