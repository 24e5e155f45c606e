"""Similarity search over embedding columns (SURVEY.md §2 C3).

- ``brute_force_topk``: exact cosine top-K — broadcast the (small)
  query set against the corpus; dot products via zip_with/aggregate
  (JVM codegen, no UDF). The baseline and the verifier for the
  approximate path.
- ``hyperplane_lsh_topk``: random-hyperplane LSH — sign sketch →
  banded hamming candidates → exact re-rank. The 100 TB path: the
  corpus is touched once to sketch (linear), candidates per query are
  bucket-bounded instead of |corpus|.
- ``embedding_dup_pairs``: threshold-cosine near-duplicate pairs
  (C1's embedding-space variant) — same candidate discipline.

Embeddings in the fixtures are unit-normalized (verified: ‖v‖²=1), so
cosine == dot product; a general deployment divides by norms, kept
here explicitly for correctness on non-normalized inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL text of _dot — the same cast-to-double left fold."""
    return (
        f"aggregate(zip_with({a}, {b}, "
        "(x, y) -> cast(x as double) * cast(y as double)), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _norm(a) -> F.Column:
    return F.sqrt(_dot(a, a))


def cosine(a, b) -> F.Column:
    """JVM-expression cosine: sequential left-fold, bit-identical to
    the DuckDB oracle's list_dot_product — the correctness engine.

    Pass column NAMES (str) where possible: the whole expression then
    parses as one SQL string instead of constructing six Column
    lambdas over py4j (~0.1 s each at plan-build time, round 13).
    A plain string is always backtick-quoted as ONE column name —
    dots included, so a column literally named ``price.usd`` resolves
    correctly (ADVICE r13). For an alias-qualified reference, pass a
    pre-quoted string built by
    :func:`timescale_cdc_spark.functions.ident.sql_qualified`
    (detected by the leading backtick and spliced verbatim), or a
    Column."""
    if isinstance(a, str) and isinstance(b, str):
        from timescale_cdc_spark.functions.ident import sql_ident

        qa = a if a.startswith("`") else sql_ident(a)
        qb = b if b.startswith("`") else sql_ident(b)
        return F.expr(
            f"{_dot_sql(qa, qb)} / "
            f"(sqrt({_dot_sql(qa, qa)}) * sqrt({_dot_sql(qb, qb)}))"
        )
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_arrow(a, b) -> F.Column:
    """Arrow-vectorized cosine (numpy batch): the re-rank scorer behind
    ``IvfIndex.topk(engine='arrow')``, where probed cells hand it
    hundreds of thousands of candidate pairs (SCALE.md: 3.7 vs 5.8 s
    median per 10-query batch at 200k vectors). Its float summation
    ORDER differs from the sequential fold, so use it for ANN scoring
    (results round to 4 dp anyway), not for oracle-paired queries."""
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _cos(av: pd.Series, bv: pd.Series) -> pd.Series:
        A = np.stack(av.to_numpy()).astype(np.float64)
        B = np.stack(bv.to_numpy()).astype(np.float64)
        dots = np.einsum("ij,ij->i", A, B)
        na = np.sqrt(np.einsum("ij,ij->i", A, A))
        nb = np.sqrt(np.einsum("ij,ij->i", B, B))
        return pd.Series(dots / (na * nb))

    return _cos(a, b)


def _cosine_for(engine: str) -> "callable":
    if engine == "arrow":
        return cosine_arrow
    if engine == "jvm":
        return cosine
    raise ValueError(f"unknown scoring engine {engine!r}; use 'jvm' or 'arrow'")


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-K: for each query vector, the K nearest corpus
    vectors by cosine (self-matches excluded). The query side is
    broadcast — at 100 TB the corpus scan stays a single
    embarrassingly-parallel pass. Ties break on corpus id for
    determinism. For million-vector sweeps use
    :func:`brute_force_topk_matmul`."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    c = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    scored = (
        c.join(F.broadcast(q), F.col("c_id") != F.col("q_id"))
        # names, not Columns: the scorer then builds one parsed SQL
        # string (see cosine)
        .withColumn("cos", F.round(cosine("q_vec", "c_vec"), round_digits))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos", "rank")
    )


def brute_force_topk_matmul(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """Exact top-K via one matrix multiply per Arrow batch — the
    million-vector throughput path.

    The pairwise scorer (brute_force_topk) materializes
    |corpus| × |queries| pair rows before scoring; at 1M × 10 that is
    10M rows of shuffled/transferred vector payload and the data
    movement, not the math, dominates (measured in SCALE.md). Here the
    corpus streams ONCE through mapInPandas: each Arrow batch is
    normalized and multiplied against the (broadcast, tiny) query
    matrix in a single BLAS call, and only each batch's per-query
    top-K survives — map-side top-K pushdown, so the final global
    rank window sees O(batches × queries × k) rows, not the corpus.

    Exact: the global top-K is a subset of the union of per-batch
    top-Ks (same (cos desc, c_id asc) order both levels). Scores are
    float64 matmul + round; summation order differs from the JVM fold,
    so agreement with `brute_force_topk` is to the rounding digit, not
    bitwise.
    """
    q_rows = queries.select(id_col, vec_col).collect()  # small by contract
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r[1], dtype=np.float64) for r in q_rows])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)

    def score_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy()
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
            S = np.round(Mn @ Qn.T, round_digits)  # (n, n_queries)
            for qi, q_id in enumerate(q_ids):
                col = S[:, qi]
                mask = ids != q_id  # exclude self-match
                m_ids, m_cos = ids[mask], col[mask]
                # top-k by (cos desc, c_id asc); lexsort: last key primary
                order = np.lexsort((m_ids, -m_cos))[:k]
                yield pd.DataFrame(
                    {
                        "q_id": np.full(len(order), q_id, dtype=np.int64),
                        "c_id": m_ids[order],
                        "cos": m_cos[order],
                    }
                )

    scored = corpus.select(id_col, vec_col).mapInPandas(
        score_batches, "q_id long, c_id long, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos", "rank")
    )


def _hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_planes, dim)).round(6).tolist()


def sketch_bits(vec_col: str, planes: list[list[float]]) -> F.Column:
    """Sign sketch: bit j = 1 iff vec · plane_j > 0, packed as long.

    Built as ONE expr() string, not num_planes × dim nested Column
    objects — the py4j tree form cost ~2.5 s of fixed per-query
    construction overhead (see operators/dedup.py for the same
    pattern); the SQL text parses once on the JVM and evaluates the
    identical fold, so sketches are bit-identical."""

    from timescale_cdc_spark.functions.ident import sql_ident

    def dot_expr(plane: list[float]) -> str:
        arr = ", ".join(f"{float(v)!r}D" for v in plane)
        return (
            f"aggregate(zip_with({sql_ident(vec_col)}, array({arr}), "
            "(x, y) -> CAST(x AS DOUBLE) * y), 0.0D, (acc, v) -> acc + v)"
        )

    terms = " | ".join(
        f"(CASE WHEN {dot_expr(plane)} > 0 THEN shiftleft(1L, {j}) ELSE 0L END)"
        for j, plane in enumerate(planes)
    )
    return F.expr(terms)


def _lsh_rerank(cb: DataFrame, qb: DataFrame, k: int) -> DataFrame:
    """Shared LSH tail: banded candidate join (query side broadcast),
    dedup, EXACT cosine re-rank, per-query top-K."""
    cand = (
        cb.join(
            F.broadcast(qb),
            (F.col("c_chunk") == F.col("q_chunk"))
            & (F.col("c_key") == F.col("q_key"))
            & (F.col("c_id") != F.col("q_id")),
        )
        .select("q_id", "q_vec", "c_id", "c_vec")
        .dropDuplicates(["q_id", "c_id"])
    )
    return _exact_rank(cand, k)


def _exact_rank(cand: DataFrame, k: int, engine: str = "jvm") -> DataFrame:
    """Exact-cosine re-rank of (q_id, q_vec, c_id, c_vec) candidates —
    the shared tail of every approximate top-K: cosine rounded to 4 dp
    like every C3 surface, ties broken on c_id."""
    scored = cand.withColumn(
        "cos", F.round(_cosine_for(engine)("q_vec", "c_vec"), 4)
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("c_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "c_id", "cos", "rank")
    )


def _banded_arrow(
    df: DataFrame,
    side: str,
    planes: list[list[float]],
    chunks: int,
    width: int,
    id_col: str,
    vec_col: str,
    n_flip: int = 0,
) -> DataFrame:
    """The LSH sketch + banding step shared by hyperplane_lsh_topk and
    LshIndex: one numpy matmul per Arrow batch against the plane
    matrix, then per band the packed sign bits of its ``width`` planes
    as the bucket key. The interpreted per-row JVM fold it replaced
    took 6.7× longer at 1M vectors (SCALE.md). ``n_flip > 0``
    additionally emits the margin-directed multi-probe keys (query
    side): per band, the home key with each of the ``n_flip``
    lowest-|margin| bits flipped."""
    P = np.asarray(planes, dtype=np.float64).T  # dim × planes

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            proj = V @ P
            n = len(pdf)
            for c in range(chunks):
                block = proj[:, c * width:(c + 1) * width]
                bits = block > 0
                key = np.zeros(n, dtype=np.int64)
                for j in range(width):
                    key |= bits[:, j].astype(np.int64) << j
                out = {
                    f"{side}_id": pdf[id_col].to_numpy(),
                    f"{side}_vec": pdf[vec_col],
                    "chunk": np.full(n, c, dtype=np.int32),
                    "key": key,
                }
                yield pd.DataFrame(out)
                if n_flip:
                    flip_bits = np.argsort(np.abs(block), axis=1)[:, :n_flip]
                    for fj in range(n_flip):
                        yield pd.DataFrame(
                            {
                                f"{side}_id": pdf[id_col].to_numpy(),
                                f"{side}_vec": pdf[vec_col],
                                "chunk": np.full(n, c, dtype=np.int32),
                                "key": key ^ (1 << flip_bits[:, fj].astype(np.int64)),
                            }
                        )

    vec_type = df.schema[vec_col].dataType.simpleString()
    return df.select(id_col, vec_col).mapInPandas(
        gen,
        f"{side}_id long, {side}_vec {vec_type}, chunk int, key long",
    )


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 96,
    chunks: int = 16,
    dim: int = 64,
    seed: int = 42,
    n_flip: int = 2,
) -> DataFrame:
    """Approximate top-K: 96-bit hyperplane sketch banded into 16
    6-bit chunks; candidates share ≥1 probed bucket; exact cosine
    re-ranks the candidates only.

    Query-directed MULTI-PROBE (Lv et al., VLDB'07): besides its home
    bucket, each query probes, per band, the buckets reached by
    flipping each of its ``n_flip`` lowest-|margin| bits — the bits
    whose hyperplane the query sits closest to, i.e. the most likely
    single-bit disagreements with a true neighbor. This buys back the
    recall that banding alone loses without widening every bucket:
    probes per band = 1 + n_flip (vs 1 + width for blind hamming-1).
    Tuned empirically on the fixture distribution (near-random unit
    vectors — the hardest case for angular LSH): recall@5 ≥ 0.88 at
    sf0.001/sf0.01/sf0.1 across seeds, vs 0.36 for the old 16-bit
    4-band sketch at sf0.01.

    Only the (tiny, broadcast) query side pays the multi-probe
    explosion; the corpus is sketched once, linearly, into home
    buckets. Margins, keys and flip selection come from one numpy
    matmul per Arrow batch (:func:`_banded_arrow`, the same banding
    LshIndex persists); the re-rank is the exact JVM cosine. Scale
    knob: width (bits/band) grows with corpus size to keep buckets
    small; n_flip/chunks grow recall.

    Recall is floor-tested against brute_force_topk at BOTH sf0.001
    and sf0.01 (tests/test_operators.py) and gated in-plan in the
    registered query (queries/llm_queries.py::c3_ann_lsh_ivf).
    """
    if num_planes % chunks:
        raise ValueError("num_planes must be divisible by chunks")
    planes = _hyperplanes(num_planes, dim, seed)
    width = num_planes // chunks
    if n_flip > width:
        raise ValueError("n_flip cannot exceed the band width")
    cb = _banded_arrow(
        corpus, "c", planes, chunks, width, id_col, vec_col
    ).withColumnsRenamed({"chunk": "c_chunk", "key": "c_key"})
    qb = _banded_arrow(
        queries, "q", planes, chunks, width, id_col, vec_col, n_flip
    ).withColumnsRenamed({"chunk": "q_chunk", "key": "q_key"})
    return _lsh_rerank(cb, qb, k)


def _estimated_plan_bytes(df: DataFrame) -> int:
    """Catalyst's estimated output size of ``df``'s optimized plan —
    the same statistic broadcast-join planning divides against. Pure
    driver-side (one py4j call, no job). An unavailable estimate
    returns "huge" so the caller picks the scale-safe path."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - defensive py4j fallback
        return 1 << 62


#: embedding_dup_pairs switches from carrying the vector payload
#: through the banded self-join to id-only bands + attach-by-join
#: when the corpus' estimated bytes exceed this. Measured crossover
#: (round 16, SCALE.md): at sf0.1 (~1.3 MB est) payload-through wins
#: by ~0.4 s of fixed join setup; at 500k×64d (~256 MB raw) id-only
#: is 27% faster (32.3 vs 44.3 s min) and the gap grows with scale —
#: the banded exchange moves chunks× the corpus payload and the pair
#: dedup becomes a SortAggregate over vector pairs (arrays defeat
#: hash-agg). 64 MB sits safely between the regimes.
ATTACH_THRESHOLD_BYTES = 64 << 20


def embedding_dup_pairs(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 32,
    chunks: int = 4,
    dim: int = 64,
    seed: int = 42,
    carry_payload: bool | None = None,
    attach_threshold_bytes: int = ATTACH_THRESHOLD_BYTES,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (C1/C2 embedding form):
    (a < b) pairs with cosine ≥ threshold, via hyperplane-LSH
    candidates + EXACT cosine verification.

    Candidate generation: every vector is sketched once (32 sign bits),
    banded into 4 × 8-bit chunks; only pairs sharing a chunk value are
    compared. The verify step is exact, so any surfaced pair is a true
    positive; a qualifying pair is missed only if it disagrees on ≥1
    bit in EVERY band — for cos ≥ 0.99 (θ ≈ 0.045π) the per-band match
    probability is (1-θ/π)^8 ≈ 0.66, so the miss probability is
    (1-0.66)^4 ≈ 1.3% per borderline pair and 0 for identical vectors
    (identical sketch). Raise ``chunks`` for higher recall, raise the
    per-band width for fewer candidates at larger corpora (candidates
    scale as chunks · Σ_buckets n_b²; width is the knob that keeps
    buckets small as n grows).

    Scale-adaptive payload routing (round 16, VERDICT r15 #6): on a
    small corpus the vectors ride through the banded self-join (two
    joins fewer — fixed setup dominates); past
    ``attach_threshold_bytes`` (Catalyst estimate, same statistic
    broadcast planning uses) the bands carry ids only, the candidate
    id-pair set is deduped while it is narrow (codegen hash-agg — id
    pairs, unlike vector pairs, hash-aggregate), and the vectors are
    attached afterwards with two hash joins against the corpus. Both
    paths are output-identical (exceptAll-pinned in
    tests/test_operators.py; measured identity at 500k vectors in
    SCALE.md); ``carry_payload`` forces a path explicitly.

    Either plan is a hash self-join on (chunk, key) — no
    CartesianProduct (pinned in tests/test_plans.py); the
    deterministic seeded hyperplanes make the result reproducible
    run-to-run. The exact all-pairs form is test-only
    (tests/test_operators.py compares this against it on the fixture
    corpus)."""
    planes = _hyperplanes(num_planes, dim, seed)
    width = num_planes // chunks
    if carry_payload is None:
        carry_payload = (
            _estimated_plan_bytes(df.select(id_col, vec_col))
            <= attach_threshold_bytes
        )
    payload = [F.col(vec_col).alias("_vec")] if carry_payload else []
    sk = df.select(
        F.col(id_col).alias("_id"),
        *payload,
        sketch_bits(vec_col, planes).alias("_fp"),
    )
    pcols = ["_vec"] if carry_payload else []
    banded = sk.select(
        "_id",
        *pcols,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("_fp"), c * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for c in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select("_id", *pcols, "ck.chunk", "ck.key")
    # shuffle_hash on both sides: identical shuffle exchanges instead
    # of a one-sided broadcast that recomputes the whole sketch
    # pipeline as a separate broadcast build (see
    # dedup.minhash_lsh_pairs for the measured effect).
    a = banded.alias("a").hint("shuffle_hash")
    b = banded.alias("b").hint("shuffle_hash")
    joined = a.join(
        b,
        (F.col("a.chunk") == F.col("b.chunk"))
        & (F.col("a.key") == F.col("b.key"))
        & (F.col("a._id") < F.col("b._id")),
    )
    if carry_payload:
        cand = joined.select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._vec").alias("va"),
            F.col("b._vec").alias("vb"),
        ).dropDuplicates(["id_a", "id_b"])
    else:
        pairs = joined.select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
        ).dropDuplicates(["id_a", "id_b"])
        va = df.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va")
        ).hint("shuffle_hash")
        vb = df.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb")
        ).hint("shuffle_hash")
        cand = pairs.join(va, "id_a").join(vb, "id_b")
    return (
        cand.withColumn("cos", F.round(cosine("va", "vb"), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_dup_pairs_exact(
    df: DataFrame,
    threshold: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs exact form of ``embedding_dup_pairs`` — TEST-ONLY
    reference implementation (O(n²) comparisons; banned at scale by
    SURVEY §7 'never all-pairs'). Kept for recall verification of the
    LSH-bucketed operator above."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn("cos", F.round(cosine("va", "vb"), 4))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
) -> DataFrame:
    """C3 approximate top-K via IVF (inverted-file index): KMeans
    coarse quantizer partitions the corpus into cells; each query
    probes its ``n_probe`` nearest cells and exact-reranks only those
    candidates.

    Scale: the corpus is clustered once (KMeans is itself distributed);
    per query the scan touches ~n_probe/n_clusters of the corpus. The
    centroids live in a BROADCAST DataFrame and probe assignment is a
    broadcast join + rank window — plan size stays O(1) in cluster
    count (an unrolled-literal formulation grows the plan O(k·dim) and
    falls over around k≈4096 cells). This is the classic IVF-Flat
    layout (FAISS-style) in pure DataFrame ops — cluster assignment
    rides in a column, so the cell "inverted lists" are just a
    partitioning of the corpus table.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(
        F.col(id_col).alias("c_id"),
        F.col(vec_col).alias("c_vec"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("_fv"),
    )
    km = KMeans(k=n_clusters, seed=seed, featuresCol="_fv", predictionCol="_cell")
    model = km.fit(vecs)
    assigned = model.transform(vecs).select("c_id", "c_vec", "_cell")

    # Centroids as a broadcast frame: O(n_clusters) rows, never
    # unrolled into the expression tree.
    spark = corpus.sparkSession
    cent = spark.createDataFrame(
        [(ci, [float(x) for x in np.asarray(c)]) for ci, c in
         enumerate(model.clusterCenters())],
        schema="_cell int, _centroid array<double>",
    )

    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    l2 = F.aggregate(
        F.zip_with(
            F.col("q_vec"),
            F.col("_centroid"),
            lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored_cells = q.crossJoin(F.broadcast(cent)).withColumn("_dist", l2)
    wp = Window.partitionBy("q_id").orderBy(F.asc("_dist"), F.asc("_cell"))
    probes = (
        scored_cells.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= n_probe)
        .select("q_id", "q_vec", "_cell")
    )

    cand = assigned.join(
        F.broadcast(probes),
        (assigned._cell == probes._cell) & (F.col("c_id") != F.col("q_id")),
    ).select("q_id", "q_vec", "c_id", "c_vec")
    return _exact_rank(cand, k)


def _sq8_train_bounds(corpus: DataFrame, vec_col: str):
    """Per-dimension (min, scale) for linear int8 codes — one O(dim)
    collect (two numbers per dimension to the driver, never rows)."""
    stats = (
        corpus.select(
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "_j", "_x"
            )
        )
        .groupBy("_j")
        .agg(F.min("_x").alias("_lo"), F.max("_x").alias("_hi"))
        .orderBy("_j")
        .collect()
    )
    vmins = [r["_lo"] for r in stats]
    # degenerate (constant) dimensions quantize to code 0 via scale 1
    scales = [((r["_hi"] - r["_lo"]) / 255.0) or 1.0 for r in stats]
    return vmins, scales


def _sq8_bounds_frame(spark, vmins, scales) -> DataFrame:
    """The bounds as a one-row broadcastable frame, so plan size stays
    O(1) in dimension (two array literals, not 2×dim scalar exprs)."""
    return spark.createDataFrame(
        [(vmins, scales)], "_vmin array<double>, _scale array<double>"
    )


def _sq8_encode(vec) -> F.Column:
    """vec → int8 codes under the ``_vmin``/``_scale`` bound columns."""
    return F.transform(
        vec,
        lambda x, j: F.least(
            F.greatest(
                F.round(
                    (x.cast("double") - F.element_at(F.col("_vmin"), j + 1))
                    / F.element_at(F.col("_scale"), j + 1)
                ),
                F.lit(0.0),
            ),
            F.lit(255.0),
        ).cast("int"),
    )


def _sq8_dequantize(code) -> F.Column:
    return F.transform(
        code,
        lambda c, j: F.element_at(F.col("_vmin"), j + 1)
        + c.cast("double") * F.element_at(F.col("_scale"), j + 1),
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """C3 approximate top-K via 8-bit scalar quantization (FAISS's
    ``SQ8`` flat index — the other billion-scale compression
    workhorse next to PQ): per-dimension linear int8 codes trained
    from corpus min/max, a compressed-domain scan (dequantize + cosine
    on codes — 4× less I/O than float32), then exact re-rank of the
    approx top-``rerank`` against the ORIGINAL vectors fetched by id
    (the FAISS refine step — the wide float scan touches only
    |queries|·rerank rows, never the corpus).

    Scale shape: training is one O(dim) collect (per-dimension
    min/max); the bounds ride in a one-row broadcast frame so plan
    size stays O(1) in dimension; the code scan is one
    embarrassingly-parallel pass with broadcast queries, same as
    :func:`brute_force_topk` but over 1-byte-per-dim codes. This
    one-shot form re-trains bounds and re-encodes the corpus on
    EVERY call — for repeated query batches use :class:`Sq8Index`
    (round 11, VERDICT r10 #4), which encodes once at build and
    serves every batch from persisted codes."""
    spark = corpus.sparkSession
    vmins, scales = _sq8_train_bounds(corpus, vec_col)
    bounds = _sq8_bounds_frame(spark, vmins, scales)
    codes = corpus.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col).alias("c_id"),
        _sq8_encode(F.col(vec_col)).alias("_code"),
        "_vmin",
        "_scale",
    )
    raw = corpus.select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
    )
    return _sq8_scan_refine(codes, raw, queries, k, rerank, id_col, vec_col)


def _sq8_scan_refine(
    codes: DataFrame,
    raw: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared SQ8 query tail: compressed-domain cosine scan over
    ``codes`` (carrying ``_vmin``/``_scale``) with broadcast queries,
    then exact re-rank of the approx top-``rerank`` against ``raw``
    fetched by id (the FAISS refine step)."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec")
    )
    approx = codes.join(
        F.broadcast(q), F.col("c_id") != F.col("q_id")
    ).withColumn("_acos", cosine(F.col("q_vec"), _sq8_dequantize(F.col("_code"))))
    wa = Window.partitionBy("q_id").orderBy(F.desc("_acos"), F.asc("c_id"))
    cand = (
        approx.withColumn("_ar", F.row_number().over(wa))
        .filter(F.col("_ar") <= rerank)
        .select("q_id", "q_vec", "c_id")
    )
    return _exact_rank(cand.join(raw, "c_id"), k)


def __getattr__(name: str):
    """``Sq8Index`` (FAISS ``SQ8``) and ``IvfSq8Index`` (``IVF,SQ8``)
    are compositions of the persisted-index core
    (operators/vindex.py), served lazily from their historic import
    path — vindex imports this module's SQ8 helpers and scorers, so
    an eager import here would be circular."""
    if name in ("Sq8Index", "IvfSq8Index"):
        from timescale_cdc_spark.operators import vindex

        return getattr(vindex, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")

