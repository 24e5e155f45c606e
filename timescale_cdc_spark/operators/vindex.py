"""One persisted vector-index lifecycle (SURVEY.md §2 C3, the
build-once / query-many scale paths).

A persisted ANN index is a PARTITIONER composed with a CODEC:

* the partitioner decides where a vector lives and which stored
  partitions a query reads — ``Flat`` (one table), ``Ivf`` (KMeans
  coarse cells, ``_cell=<k>`` dirs, probed cells pruned at planning
  time) or ``Lsh`` (hyperplane bands, ``chunk=<c>/kp=<p>`` dirs,
  probed (band, key-prefix) pairs pruned at planning time);
* the codec decides what is stored per vector — ``Raw`` (the float
  vector only, scored exactly), ``Sq8`` (int8 per-dimension codes) or
  ``Pq`` (product-quantization codes, ADC lookup-sum scoring). The
  two code codecs shortlist on codes and exact-cosine re-rank the
  shortlist from the raw vectors they store beside the codes.

:class:`VectorIndex` owns everything the composition does not vary:
paths and the parquet ``meta`` sidecar, the live (tombstone-filtered)
reads, ``delete``/``compact`` through tombstones.py's two-rename swap
(tombstones cleared LAST), the raw-first ``append`` with its
``repair`` anti-join, ``staleness`` with the rebuild/compact policy
below, and the exact-cosine re-rank tail. Every kind therefore has the
same lifecycle: build, append, delete, compact, repair, staleness,
topk. The six public kinds are FAISS factory strings:

    ===========  ===========  =====  ========================
    class        factory      parts  stored dirs
    ===========  ===========  =====  ========================
    IvfIndex     IVF,Flat     Ivf    centroids/ corpus/
    LshIndex     LSH          Lsh    banded/
    PqIndex      PQ           Flat   codebooks/ codes/ raw/
    IvfPqIndex   IVF,PQ       Ivf    centroids/ codebooks/ codes/ raw/
    Sq8Index     SQ8          Flat   codes/ raw/
    IvfSq8Index  IVF,SQ8      Ivf    centroids/ codes/ raw/
    ===========  ===========  =====  ========================

IVF kinds encode the RESIDUAL (vector − cell centroid), so the code
entropy goes to the within-cell offset (Jégou et al., TPAMI 2011 §V;
FAISS ``IndexIVFPQ`` / ``IndexIVFScalarQuantizer``). Appends never
refit: vectors are assigned to the FROZEN centroids and encoded with
the FROZEN bounds/codebooks; :meth:`VectorIndex.staleness` is the
rebuild trigger. Single-writer contract for every mutation, like all
maintenance here.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from timescale_cdc_spark.operators import pq as _pq
from timescale_cdc_spark.operators import similarity as _sim
from timescale_cdc_spark.operators import tombstones as tb

#: staleness policy — rebuild once the share appended onto frozen
#: fitted state, the quantization-error drift or the SQ8 clamp share
#: passes its bound; compact once the tombstoned share does
APPENDED_MAX = 0.25
QERR_MAX = 1.5
CLAMP_MAX = 0.10
DELETED_MAX = 0.10


def _l2sq(a, b="_centroid") -> F.Column:
    """Squared L2 distance between two array columns (left fold)."""
    return F.aggregate(
        F.zip_with(
            a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _residual(a, b="_centroid") -> F.Column:
    return F.zip_with(a, b, lambda x, y: x.cast("double") - y)


# -- partitioners ------------------------------------------------------------


class Flat:
    """One unpartitioned table; every query reads all of it."""

    cols: tuple[str, ...] = ()  # partition dirs of the stored tables
    keys: tuple[str, ...] = ()  # candidate equi-join keys
    fitted = False  # has trained state that appends leave frozen
    dedup = False  # can a (query, vector) pair meet more than once

    def fit(self, ix, vecs, dim, seed, sample_fraction, params):
        return vecs, {}

    def assign(self, ix, v, meta):
        return v

    def residual(self, ix, df):
        return df.withColumn("_res", F.col("c_vec"))

    def probe(self, ix, q, meta, n_probe):
        """(query side, partition predicate or None)."""
        return q.withColumn("_qres", F.col("q_vec")), None

    def reconstruct(self, ix, df, vec):
        return df, vec

    def rows_per_id(self, meta) -> int:
        return 1


class Ivf(Flat):
    """KMeans coarse quantizer (FAISS IVF): ``centroids/`` holds
    (_cell int, _centroid array<double>); stored tables are
    partitioned by ``_cell`` so a probe of ``n_probe`` cells is a
    PARTITION-PRUNED scan. The centroid table is tiny and rides in
    broadcast joins — plan size stays O(1) in cell count."""

    cols = keys = ("_cell",)
    fitted = True

    def fit(self, ix, vecs, dim, seed, sample_fraction, params):
        """Fit on a sample when ``sample_fraction`` is set (the
        quantizer needs cluster SHAPES, not every point); assignment
        still covers the full corpus, by the model's own rule."""
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        vecs = vecs.withColumn(
            "_fv", array_to_vector(F.col("c_vec").cast("array<double>"))
        )
        fit_input = (
            vecs.sample(fraction=sample_fraction, seed=seed)
            if sample_fraction
            else vecs
        )
        model = KMeans(
            k=params["n_cells"], seed=seed, featuresCol="_fv",
            predictionCol="_cell",
        ).fit(fit_input)
        ix.spark.createDataFrame(
            [
                (ci, [float(x) for x in np.asarray(c)])
                for ci, c in enumerate(model.clusterCenters())
            ],
            schema="_cell int, _centroid array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(ix._p("centroids"))
        assigned = model.transform(vecs).select("c_id", "c_vec", "_cell")
        return assigned, {"n_cells": params["n_cells"]}

    def assign(self, ix, v, meta):
        """Nearest FROZEN centroid by PARTIAL AGGREGATION, not a
        window: the scored crossJoin is |batch| × n_cells rows carrying
        the full vector — a window shuffles and sorts all of them
        (measured 156 s for a 100k batch at 256 cells);
        min(struct(_dist, _cell)) map-side-combines each id to one
        tiny row before the exchange (ties: lowest cell wins)."""
        best = (
            v.crossJoin(F.broadcast(ix.centroids()))
            .withColumn("_dist", _l2sq("c_vec"))
            .groupBy("c_id")
            .agg(F.min(F.struct("_dist", "_cell")).alias("_b"))
            .select("c_id", F.col("_b._cell").alias("_cell"))
        )
        return v.join(best, "c_id")

    def residual(self, ix, df):
        return (
            df.join(F.broadcast(ix.centroids()), "_cell")
            .withColumn("_res", _residual("c_vec"))
            .drop("_centroid")
        )

    def probe(self, ix, q, meta, n_probe):
        """The ``n_probe`` nearest cells per query (broadcast centroid
        join + rank window). Partition pruning needs literal cell
        values at planning time: collect ONLY the probed cell ids
        (≤ n_probe × |queries| ints — queries are the small side)."""
        w = Window.partitionBy("q_id").orderBy(F.asc("_dist"), F.asc("_cell"))
        side = (
            q.crossJoin(F.broadcast(ix.centroids()))
            .withColumn("_dist", _l2sq("q_vec"))
            .withColumn("_pr", F.row_number().over(w))
            .filter(F.col("_pr") <= n_probe)
            .select("q_id", "q_vec", "_cell", _residual("q_vec").alias("_qres"))
        )
        cells = sorted(
            r["_cell"] for r in side.select("_cell").distinct().collect()
        )
        return side, F.col("_cell").isin(cells)

    def reconstruct(self, ix, df, vec):
        cent = ix.centroids().withColumnRenamed("_centroid", "_cc")
        return (
            df.join(F.broadcast(cent), "_cell"),
            F.zip_with(F.col("_cc"), vec, lambda a, b: a + b),
        )


class Lsh(Flat):
    """Banded random-hyperplane sketch (Charikar 2002; multi-probe per
    Lv et al., VLDB'07): every vector is stored once per band under
    ``chunk=<c>/kp=<p>`` (kp = the key's top ``prefix_bits`` bits).
    Sketches have NO fitted state — appended vectors get the same
    hyperplanes, so an appended index equals a fresh build over the
    union and appends never call for a rebuild."""

    cols = ("chunk", "kp")
    keys = ("chunk", "key")
    dedup = True

    def fit(self, ix, vecs, dim, seed, sample_fraction, params):
        num_planes, chunks = params["num_planes"], params["chunks"]
        if num_planes % chunks:
            raise ValueError("num_planes must be divisible by chunks")
        width = num_planes // chunks
        if not 0 <= params["prefix_bits"] <= width:
            raise ValueError("prefix_bits must be in [0, band width]")
        meta = dict(params, width=width, dim=dim, seed=seed)
        return self.assign(ix, vecs, meta), meta

    @staticmethod
    def _band(df, meta, side="c", n_flip=0):
        planes = _sim._hyperplanes(meta["num_planes"], meta["dim"], meta["seed"])
        return _sim._banded_arrow(
            df, side, planes, meta["chunks"], meta["width"],
            f"{side}_id", f"{side}_vec", n_flip,
        )

    def assign(self, ix, v, meta):
        return self._band(v, meta).withColumn(
            "kp", F.shiftright("key", meta["width"] - meta["prefix_bits"])
        )

    def probe(self, ix, q, meta, n_probe):
        """Query side: home bucket + ``n_flip`` lowest-|margin| flips
        per band. The probed (band, prefix) pairs are collected as
        literals (queries × bands × (1+n_flip) ints) so the banded
        scan partition-prunes."""
        side = self._band(q, meta, "q", meta["n_flip"])
        shift = meta["width"] - meta["prefix_bits"]
        by_chunk: dict[int, list[int]] = {}
        for r in (
            side.select("chunk", F.shiftright("key", shift).alias("kp"))
            .distinct()
            .collect()
        ):
            by_chunk.setdefault(r["chunk"], []).append(r["kp"])
        pred = F.lit(False)  # no queries → empty, not a full scan
        for c, kps in sorted(by_chunk.items()):
            pred = pred | ((F.col("chunk") == c) & F.col("kp").isin(sorted(kps)))
        return side, pred

    def rows_per_id(self, meta) -> int:
        return meta["chunks"]


# -- codecs ------------------------------------------------------------------


class Raw:
    """Store the float vector only; candidates are scored exactly."""

    codes = False  # stores a codes/ table beside raw/
    fitted = False

    def signals(self, ix, df, meta):
        return df, []


class Sq8(Raw):
    """8-bit scalar quantization (FAISS ``SQ8``): per-dimension linear
    int8 codes from the trained min/max, stored as ``array<int>`` of
    0..255 (parquet bit-packs them near 1 byte/dim and the dequantize
    scan stays a pure codegen expression). The bounds live in the
    meta row (``_vmin``/``_scale``) and ride into plans as a one-row
    broadcast frame, so plan size stays O(1) in dimension. Appended
    coordinates outside the frozen grid CLAMP to its edge; the share
    of clamped rows is this codec's drift signal."""

    codes = fitted = True
    order = staticmethod(F.desc)  # approximate cosine: higher is nearer

    def train(self, ix, res, dim, seed, sample_fraction, params):
        vmins, scales = _sim._sq8_train_bounds(res, "_res")
        return {"_vmin": vmins, "_scale": scales}

    @staticmethod
    def _bounds(ix, meta):
        return F.broadcast(
            _sim._sq8_bounds_frame(
                ix.spark, list(meta["_vmin"]), list(meta["_scale"])
            )
        )

    def encode(self, ix, res, meta):
        return res.crossJoin(self._bounds(ix, meta)).select(
            "c_id", *ix.P.cols, _sim._sq8_encode(F.col("_res")).alias("_code")
        )

    def query(self, ix, side, meta):
        return side

    def candidates(self, ix, codes, meta):
        """Reconstruct (centroid +) dequantized codes and score them
        with the JVM cosine — the compressed-domain scan."""
        df, rec = ix.P.reconstruct(
            ix,
            codes.crossJoin(self._bounds(ix, meta)),
            _sim._sq8_dequantize(F.col("_code")),
        )
        return df, _sim.cosine(F.col("q_vec"), rec)

    def signals(self, ix, df, meta):
        vmin = lambda j: F.element_at(F.col("_vmin"), j + 1)  # noqa: E731
        oob = F.exists(
            F.transform(
                F.col("_res").cast("array<double>"),
                lambda x, j: (x < vmin(j))
                | (x > vmin(j) + F.lit(255.0) * F.element_at(F.col("_scale"), j + 1)),
            ),
            lambda b: b,
        )
        return df.crossJoin(self._bounds(ix, meta)), [
            F.sum(oob.cast("long")).alias("clamp_n")
        ]


class Pq(Raw):
    """Product quantization (Jégou, Douze, Schmid, TPAMI 2011): ``m``
    subspaces of d/m dims, each quantized against its own
    ``k_sub``-entry codebook (``codebooks/``: _j, _cid, _centroid).
    Training is ``m`` spark.ml KMeans fits (sample-able); encoding is
    an Arrow-batched numpy argmin (the codebooks ride in the closure);
    query scoring is pure JVM: a per-(query, cell) lookup table built
    by one broadcast codebook join, and each candidate's ADC distance
    is ``m`` lookups summed — zero Python per candidate."""

    codes = fitted = True
    order = staticmethod(F.asc)  # ADC distance: lower is nearer

    def train(self, ix, res, dim, seed, sample_fraction, params):
        m, k_sub = params["m"], params["k_sub"]
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        fit = res.sample(fraction=sample_fraction, seed=seed) if sample_fraction else res
        rows = _pq._train_subquantizers(fit, "_res", m, dim // m, k_sub, seed)
        ix.spark.createDataFrame(
            rows, schema="_j int, _cid int, _centroid array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(ix._p("codebooks"))
        return {"m": m, "k_sub": k_sub}

    def encode(self, ix, res, meta):
        m, k_sub = meta["m"], meta["k_sub"]
        books = [
            (r["_j"], r["_cid"], list(r["_centroid"]))
            for r in ix.codebooks().collect()
        ]
        return _pq._encode_with_books(
            res.select("c_id", "_res", *ix.P.cols), "_res", books,
            m, meta["dim"] // m, k_sub, list(ix.P.cols),
        )

    def query(self, ix, side, meta):
        """One flat LUT per (query, probed cell), ordered (j, cid):
        entry j*k_sub+cid is the exact sub-distance between the query
        residual's slice j and codebook entry (j, cid)."""
        k_sub, d_sub = meta["k_sub"], meta["dim"] // meta["m"]
        sub = F.slice(F.col("_qres"), F.col("_j") * d_sub + 1, d_sub)
        slot = (F.col("_j") * k_sub + F.col("_cid")).alias("_i")
        return (
            side.join(F.broadcast(ix.codebooks()))
            .withColumn("_dist", _l2sq(sub))
            .groupBy("q_id", *ix.P.keys)
            .agg(
                F.first("q_vec").alias("q_vec"),
                F.transform(
                    F.array_sort(F.collect_list(F.struct(slot, F.col("_dist")))),
                    lambda s: s["_dist"],
                ).alias("_lut"),
            )
        )

    def candidates(self, ix, codes, meta):
        return codes, _pq._adc_expr(meta["m"], meta["k_sub"])


# -- the core ----------------------------------------------------------------

_META_TYPES = {
    "n_at_build": "long",
    "qerr_at_build": "double",
    "_vmin": "array<double>",
    "_scale": "array<double>",
}


class VectorIndex:
    """Build-once / query-many persisted index: one ``partitioner``
    composed with one ``codec``. Subclasses set the two and keep
    their own ``build``/``topk`` signatures; every other lifecycle
    step lives here. ``VECTORS`` names the table holding the float
    vectors (the live-id source and the exact re-rank side)."""

    P: Flat = Flat()
    C: Raw = Raw()
    VECTORS = "raw"

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path.rstrip("/")

    def _p(self, name: str) -> str:
        return f"{self.path}/{name}"

    @property
    def _tables(self) -> tuple[str, ...]:
        """Stored per-vector tables, in purge order (codes first)."""
        return ("codes", self.VECTORS) if self.C.codes else (self.VECTORS,)

    @property
    def fitted(self) -> bool:
        return self.P.fitted or self.C.fitted

    # -- read ----------------------------------------------------------------

    def exists(self) -> bool:
        """True once a build has committed (meta is written last)."""
        return os.path.isdir(self._p("meta"))

    def meta(self) -> dict:
        return self.spark.read.parquet(self._p("meta")).first().asDict()

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self._p("centroids"))

    def codebooks(self) -> DataFrame:
        return self.spark.read.parquet(self._p("codebooks"))

    def live(self, table: str) -> DataFrame:
        """LIVE rows of a stored table: tombstoned ids anti-joined out
        (zero overhead until the first :meth:`delete`); partition
        filters still prune through the anti-join."""
        return tb.filter_live(
            self.spark, self.path, self.spark.read.parquet(self._p(table))
        )

    def vectors(self) -> DataFrame:
        """LIVE (c_id, c_vec, partition cols) rows — the index's single
        live accessor."""
        return self.live(self.VECTORS)

    def codes(self) -> DataFrame:
        return self.live("codes")

    raw = vectors

    # -- build / append ------------------------------------------------------

    def _write(self, df: DataFrame, table: str, mode: str) -> None:
        df.write.mode(mode).partitionBy(*self.P.cols).parquet(self._p(table))

    def _build(self, corpus, id_col, vec_col, seed=42, sample_fraction=None,
               **params):
        """Fit the partitioner, train the codec on the (residual)
        vectors, write the tables, then the meta row LAST."""
        dim = corpus.select(F.size(vec_col)).first()[0]
        vecs = corpus.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        )
        assigned, meta = self.P.fit(self, vecs, dim, seed, sample_fraction, params)
        meta["dim"] = dim
        if self.C.codes:
            res = self.P.residual(self, assigned)
            meta.update(self.C.train(self, res, dim, seed, sample_fraction, params))
            self._write(self.C.encode(self, res, meta), "codes", "overwrite")
        self._write(assigned, self.VECTORS, "overwrite")
        # a fitted partitioner's stats come from the in-memory frame:
        # re-assigning is cheaper than reading back its small per-cell
        # files; an unfitted one only needs the stored row count
        stats = self._stats(
            meta, signals=False, df=assigned if self.P.fitted else None
        )
        meta["n_at_build"] = stats["n_now"]
        if self.P.fitted:
            meta["qerr_at_build"] = float(stats["qerr_now"] or 0.0)
        self.spark.createDataFrame(
            [tuple(meta.values())],
            ", ".join(f"{k} {_META_TYPES.get(k, 'int')}" for k in meta),
        ).coalesce(1).write.mode("overwrite").parquet(self._p("meta"))
        return self

    def append(self, new_vectors: DataFrame, id_col: str = "vec_id",
               vec_col: str = "embedding") -> None:
        """Absorb inserts WITHOUT refitting: assign to the frozen
        partitions, encode with the frozen codec state, and append
        partition-locally — one exchange on the partition columns so
        each append writes one file per touched partition, never a
        corpus rewrite. Caller contract: ids are new (the CDC upsert
        path dedupes upstream).

        Crash window: RAW commits FIRST. A crash before the codes
        append leaves raw-without-codes — vectors merely invisible to
        the compressed shortlist, which :meth:`repair` re-encodes. The
        reverse order would leave codes whose exact-refine join
        silently DROPS shortlisted ids."""
        meta = self.meta()
        rows = self.P.assign(self, new_vectors.select(
            F.col(id_col).alias("c_id"), F.col(vec_col).alias("c_vec")
        ), meta)
        # both writes read the assigned rows: keep them when assignment
        # did work (one exchange, then one cached frame for both)
        keep = bool(self.P.cols) and self.C.codes
        if self.P.cols:
            rows = rows.repartition(*self.P.cols)
        if keep:
            rows = rows.persist()
        self._write(rows, self.VECTORS, "append")
        if self.C.codes:
            enc = self.C.encode(self, self.P.residual(self, rows), meta)
            self._write(enc, "codes", "append")
        if keep:
            rows.unpersist()
        for t in self._tables:
            self.spark.catalog.refreshByPath(self._p(t))

    def repair(self) -> int:
        """Recover an interrupted :meth:`append`: encode and append
        codes for live vectors that have none (one anti-join —
        maintenance cadence). Returns rows repaired."""
        if not self.C.codes:
            return 0
        # localCheckpoint, not persist: the append WRITES the codes dir
        # the anti-join READS; an evicted cache block would recompute
        # against the half-appended dir and under-write
        missing = self.P.residual(
            self, self.vectors().join(self.codes().select("c_id"), "c_id", "left_anti")
        )
        missing = self.C.encode(self, missing, self.meta())
        if self.P.cols:
            missing = missing.repartition(*self.P.cols)
        missing = missing.localCheckpoint()
        n = missing.count()
        if n:
            self._write(missing, "codes", "append")
            self.spark.catalog.refreshByPath(self._p("codes"))
        missing.unpersist()
        return n

    # -- delete / compact ----------------------------------------------------

    def delete(self, ids, id_col: str = "vec_id") -> int:
        """Tombstone deletions: effective immediately — every read goes
        through :meth:`live`, so a deleted id leaves the shortlist AND
        the exact re-rank at once. ``ids``: DataFrame with ``id_col`` or
        an iterable of ids. Returns newly recorded ids."""
        return tb.add_tombstones(self.spark, self.path, ids, id_col)

    def compact(self) -> int:
        """Rewrite every stored table minus tombstoned rows behind the
        two-rename swap (tombstones.swap_rewrite; a half-swapped table
        from a crashed run is restored first) — one exchange on the
        partition columns, so each partition dir is rewritten as one
        file and append fragmentation folds away — then clear the
        tombstones LAST: a crash anywhere before leaves reads filtered,
        and the next compact finishes. Live contents are unchanged.
        Returns live rows of the vectors table."""
        for t in self._tables:
            tb.recover_swap(self._p(t))
        if not os.path.isdir(self._p(self.VECTORS)):
            return 0
        n = self.vectors().count()
        for t in self._tables:
            df = self.live(t)
            if self.P.cols:
                df = df.repartition(*self.P.cols)
            tb.swap_rewrite(self.spark, self._p(t), df, self.P.cols)
        tb.clear_tombstones(self.spark, self.path)
        return n

    # -- staleness -----------------------------------------------------------

    def _stats(self, meta: dict, signals: bool = True, df=None) -> dict:
        """One scan of the live vectors (or ``df``): ``n_now``, mean
        residual L2² ``qerr_now`` and ``cell_imbalance`` (max/mean cell
        size) for a fitted partitioner, plus the codec's drift
        counts."""
        df = self.P.residual(self, self.vectors() if df is None else df)
        aggs = [F.count("*").alias("n")]
        if self.P.fitted:
            aggs.append(F.sum(
                F.aggregate("_res", F.lit(0.0), lambda a, x: a + x * x)
            ).alias("qerr_sum"))
        if signals:
            df, extra = self.C.signals(self, df, meta)
            aggs += extra
        group = self.P.cols if self.P.fitted else ()
        per = df.groupBy(*group).agg(*aggs)
        row = per.agg(
            *[F.sum(c).alias(c) for c in per.columns if c not in group],
            (F.max("n") / F.avg("n")).alias("cell_imbalance"),
        ).first().asDict()
        n = row["n"] or 0
        row["n_now"] = n // self.P.rows_per_id(meta)
        row["qerr_now"] = row["qerr_sum"] / n if n and self.P.fitted else None
        if "clamp_n" in row:
            row["clamp_fraction"] = (row["clamp_n"] or 0) / n if n else 0.0
        return row

    def deleted_fraction(self) -> float:
        """Tombstoned share of stored ids — the compaction trigger."""
        n_dead = tb.count_tombstones(self.spark, self.path)
        if not n_dead:
            return 0.0
        n_live = self.vectors().count() / self.P.rows_per_id(self.meta())
        return n_dead / (n_live + n_dead)

    def staleness(self) -> dict:
        """Rebuild/compact signal for the maintenance loop (one corpus
        scan — maintenance cadence, not per query):

        - ``appended_fraction``: LIVE share added since build (clamped
          at 0 when deletes of build rows push it negative); triggers
          a rebuild past ``APPENDED_MAX`` only when the index has
          fitted state (an LSH sketch has none — appends never decay);
        - ``qerr_ratio`` / ``cell_imbalance`` (IVF kinds): current mean
          quantization error over the build-time mean — drift even at
          low append volume — and max/mean cell size;
        - ``clamp_fraction`` (SQ8 kinds): rows with a coordinate outside
          the frozen grid — build rows never clamp, so every clamped
          row is an appended outlier;
        - ``deleted_fraction``: tombstoned share of stored ids, dead
          bytes until :meth:`compact` (``compact_recommended``)."""
        meta = self.meta()
        cur = self._stats(meta)
        n_now = cur["n_now"]
        appended = max(0.0, (n_now - meta["n_at_build"]) / n_now) if n_now else 0.0
        n_dead = tb.count_tombstones(self.spark, self.path)
        deleted = n_dead / (n_now + n_dead) if n_dead else 0.0
        out = {
            "n_at_build": meta["n_at_build"],
            "n_now": n_now,
            "appended_fraction": appended,
            "deleted_fraction": deleted,
            "compact_recommended": bool(deleted > DELETED_MAX),
        }
        rebuild = self.fitted and appended > APPENDED_MAX
        if self.P.fitted:
            out["qerr_ratio"] = (
                cur["qerr_now"] / meta["qerr_at_build"]
                if meta.get("qerr_at_build") and cur["qerr_now"] is not None
                else 1.0
            )
            out["cell_imbalance"] = cur["cell_imbalance"]
            rebuild = rebuild or out["qerr_ratio"] > QERR_MAX
        if "clamp_n" in cur:
            out["clamp_fraction"] = cur["clamp_fraction"]
            rebuild = rebuild or out["clamp_fraction"] > CLAMP_MAX
        out["rebuild_recommended"] = bool(rebuild)
        return out

    # -- query ---------------------------------------------------------------

    def _topk(self, queries, k, id_col, vec_col, n_probe=None, rerank=None,
              engine="jvm"):
        """Probe → (codes shortlist →) exact-cosine re-rank. Returns
        (q_id, c_id, cos, rank); a code codec with ``rerank=None``
        returns its raw approximate ranks as (q_id, c_id, adc_dist,
        rank)."""
        meta = self.meta()
        q = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"))
        side, pred = self.P.probe(self, q, meta, n_probe)

        def read(table):
            df = self.live(table)
            return df if pred is None else df.filter(pred)

        def join(df, side):
            keys = list(self.P.keys)
            j = df.join(F.broadcast(side), keys) if keys else df.join(F.broadcast(side))
            return j.filter(F.col("c_id") != F.col("q_id"))

        if not self.C.codes:
            cand = join(read(self.VECTORS), side).select("q_id", "q_vec", "c_id", "c_vec")
            if self.P.dedup:
                cand = cand.dropDuplicates(["q_id", "c_id"])
            return _sim._exact_rank(cand, k, engine)
        codes, approx = self.C.candidates(self, read("codes"), meta)
        w = Window.partitionBy("q_id").orderBy(self.C.order("_approx"), F.asc("c_id"))
        ranked = (
            join(codes, self.C.query(self, side, meta))
            .withColumn("_approx", approx)
            .withColumn("_r", F.row_number().over(w))
        )
        if rerank is None:
            return ranked.filter(F.col("_r") <= k).select(
                "q_id", "c_id", F.round("_approx", 6).alias("adc_dist"),
                F.col("_r").alias("rank"),
            )
        shortlist = ranked.filter(F.col("_r") <= max(rerank, k)).select(
            "q_id", "q_vec", "c_id"
        )
        return _sim._exact_rank(
            shortlist.join(read(self.VECTORS).select("c_id", "c_vec"), "c_id"),
            k, engine,
        )


# -- the six kinds -----------------------------------------------------------


class IvfIndex(VectorIndex):
    """``IVF,Flat``: KMeans cells over raw vectors. ``ivf_topk``
    re-fits KMeans on every call (66 s of a 78 s 1M-vector run,
    SCALE.md); this builds the quantizer ONCE and serves many query
    batches from ``corpus/_cell=<k>/`` (c_id, c_vec) with
    partition-pruned probes."""

    P, C, VECTORS = Ivf(), Raw(), "corpus"
    corpus = VectorIndex.vectors

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", n_clusters: int = 16,
              seed: int = 42, sample_fraction: float | None = None):
        return self._build(corpus, id_col, vec_col, seed, sample_fraction,
                           n_cells=n_clusters)

    def topk(self, queries: DataFrame, k: int = 5, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             engine: str = "jvm") -> DataFrame:
        """``engine='arrow'`` re-ranks with the numpy-batched scorer
        (similarity.cosine_arrow): 3.7 vs 5.8 s median per batch at
        200k vectors with 8 of 64 cells probed (SCALE.md)."""
        return self._topk(queries, k, id_col, vec_col, n_probe=n_probe,
                          engine=engine)


class LshIndex(VectorIndex):
    """``LSH``: ``hyperplane_lsh_topk`` re-sketches the corpus on every
    call (9.9 s Arrow at 1M vectors, SCALE.md); this sketches ONCE into
    ``banded/chunk=<c>/kp=<p>/`` (c_id, c_vec, key) and answers many
    batches with identical semantics. ``prefix_bits=p`` splits each
    band into 2^p key-prefix dirs so batches prune to their probed
    prefixes — measured slower at 1M vectors locally (4.4 s flat vs
    7.2 s at p=6, SCALE.md); turn it on once bytes dominate per-
    partition overhead."""

    P, C, VECTORS = Lsh(), Raw(), "banded"
    banded = VectorIndex.vectors

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", num_planes: int = 96,
              chunks: int = 16, seed: int = 42, n_flip: int = 2,
              prefix_bits: int = 0):
        return self._build(corpus, id_col, vec_col, seed,
                           num_planes=num_planes, chunks=chunks,
                           n_flip=n_flip, prefix_bits=prefix_bits)

    def topk(self, queries: DataFrame, k: int = 5, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
        return self._topk(queries, k, id_col, vec_col)


class PqIndex(VectorIndex):
    """``PQ``: ``m`` × ``k_sub`` product-quantization codes (64 float
    dims → 8 bytes at m=8/k_sub=256, 32× compression), ADC shortlist
    of ``rerank`` per query, exact-cosine re-rank from ``raw/``."""

    P, C = Flat(), Pq()

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", m: int = 8, k_sub: int = 16,
              seed: int = 42, sample_fraction: float | None = None):
        return self._build(corpus, id_col, vec_col, seed, sample_fraction,
                           m=m, k_sub=k_sub)

    def topk(self, queries: DataFrame, k: int = 5, rerank: int | None = 50,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
        return self._topk(queries, k, id_col, vec_col, rerank=rerank)


class IvfPqIndex(VectorIndex):
    """``IVF,PQ``: coarse cells + PQ over RESIDUALS — the FAISS
    billion-scale design. A probed batch reads ``n_probe / n_cells``
    of an already 32×-compressed corpus; the two reductions
    multiply."""

    P, C = Ivf(), Pq()

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", n_cells: int = 16, m: int = 8,
              k_sub: int = 16, seed: int = 42,
              sample_fraction: float | None = None):
        return self._build(corpus, id_col, vec_col, seed, sample_fraction,
                           n_cells=n_cells, m=m, k_sub=k_sub)

    def topk(self, queries: DataFrame, k: int = 5, n_probe: int = 4,
             rerank: int | None = 50, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
        return self._topk(queries, k, id_col, vec_col, n_probe=n_probe,
                          rerank=rerank)


class Sq8Index(VectorIndex):
    """``SQ8``: the persisted form of :func:`similarity.sq8_topk` —
    bounds trained and corpus encoded ONCE; every batch scans the
    compressed codes off disk and refines ``rerank`` per query
    exactly."""

    P, C = Flat(), Sq8()

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding"):
        return self._build(corpus, id_col, vec_col)

    def topk(self, queries: DataFrame, k: int = 5, rerank: int = 50,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
        return self._topk(queries, k, id_col, vec_col, rerank=rerank)


class IvfSq8Index(VectorIndex):
    """``IVF,SQ8``: coarse cells + int8 codes over RESIDUALS (residual
    spans are far tighter than raw coordinate spans, so the 255-step
    grid is finer where it matters); candidates are reconstructed as
    centroid + dequantized residual."""

    P, C = Ivf(), Sq8()

    def build(self, corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", n_cells: int = 16,
              seed: int = 42, sample_fraction: float | None = None):
        return self._build(corpus, id_col, vec_col, seed, sample_fraction,
                           n_cells=n_cells)

    def topk(self, queries: DataFrame, k: int = 5, n_probe: int = 4,
             rerank: int = 50, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
        return self._topk(queries, k, id_col, vec_col, n_probe=n_probe,
                          rerank=rerank)
