"""IVF (inverted-file) ANN over an embedding column — the second scale
path next to hyperplane LSH (operators/similarity.py).

Mirrors the role of the reference's pgvector HNSW index
(pkg/spanembed/store.go:176-180): a coarse structure prunes the corpus
before the exact re-rank.  Where LSH prunes by random sign-bit buckets,
IVF prunes by a LEARNED partition: spherical k-means centroids, each
vector assigned to its nearest centroid, a query probed against its
``nprobe`` nearest centroids only.  On a skewed real corpus the learned
cells track density (LSH cells don't), so IVF reaches the same recall
with fewer candidates.

Spark shape (everything distributed, nothing per-row Python):

  * training — Lloyd iterations where each Arrow batch computes its
    partial (cluster, count, sum_vec) via ONE numpy matmul; partials
    posexplode to (cluster, pos, val) rows and a native groupBy sums
    them, so only the k x dim centroid matrix ever reaches the driver
    (bounded, by construction) — never the corpus;
  * assignment — one matmul per batch (mapInPandas), id+cluster out;
  * search — the query ranks centroids driver-side (k x dim, tiny),
    candidates come from a `cluster IN probes` FILTER on the assignment
    frame (partition-prunable; no join), exact cosine re-rank via the
    shared brute_cosine_topk (TakeOrderedAndProject).

Determinism: init picks the k corpus vectors with the smallest
xxhash64(id) (a seeded, order-independent sample), iterations are fixed
count, numpy argmax ties break low — the same corpus + seed always
yields the same index, matching the tape-idempotence rule every other
operator follows.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from tapes_spark.operators.ann_index import vec_content_hash
from tapes_spark.operators.similarity import brute_cosine_topk
from tapes_spark.tapelog.content_index import ContentHashIndex
from tapes_spark.tapelog.table import TapeTable


def _normalized(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def _batch_matrix(pdf: pd.DataFrame, vec_col: str) -> np.ndarray:
    return np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])


def ivf_init_centroids(
    embeddings: DataFrame,
    n_clusters: int,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> np.ndarray:
    """Deterministic k-seed sample: the k vectors whose xxhash64(seed, id)
    is smallest.  Order-independent (a reshuffled corpus picks the same
    seeds), collects exactly k rows (TakeOrderedAndProject)."""
    rows = (
        embeddings.select(
            F.col(vec_col).alias("_v"),
            F.xxhash64(F.lit(seed), F.col(id_col)).alias("_h"),
        )
        .orderBy("_h")
        .limit(n_clusters)
        .collect()
    )
    return _normalized(
        np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
    )


def ivf_train(
    embeddings: DataFrame,
    n_clusters: int = 16,
    n_iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_fraction: float = 1.0,
) -> np.ndarray:
    """Spherical k-means centroids (n_clusters x dim, unit-norm rows).

    Each Lloyd iteration is one distributed pass: per Arrow batch a
    single matmul assigns rows to centroids and accumulates (count,
    sum_vec) per cluster; the partials shuffle as (cluster, pos, val)
    and a native sum folds them.  Driver traffic per iteration is the
    k x dim centroid matrix only.  Empty clusters keep their previous
    centroid (standard Lloyd fallback, deterministic).

    ``train_fraction < 1.0`` is the 100-TB scale path: the quantizer
    trains on a DETERMINISTIC hash sample of the corpus
    (``pmod(xxhash64(seed, id), 1e6) < fraction * 1e6`` — order-
    independent, reshuffle-stable, the same convention as every other
    sampled operator here), which is the standard IVF contract (FAISS
    trains coarse quantizers on a bounded sample): centroid quality
    needs a representative sample, not every row, so train cost stops
    scaling with the corpus while assignment stays exact and full.
    Seed selection (init) draws from the same sample, so one filter
    defines the whole train set.
    """
    if not 0.0 < train_fraction <= 1.0:
        raise ValueError(f"train_fraction must be in (0, 1]: {train_fraction}")
    if train_fraction < 1.0:
        denom = 1_000_000
        embeddings = embeddings.filter(
            F.pmod(F.xxhash64(F.lit(seed), F.col(id_col)), F.lit(denom))
            < int(train_fraction * denom)
        )
    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism
    # persist the (narrow) train set across the seed scan + Lloyd
    # iterations: without it every iteration (and the init scan) re-reads
    # the corpus parquet, re-applies the sample filter and re-shuffles —
    # (n_iters + 1) scans instead of one (r6; an intra-query
    # intermediate, released before returning)
    cached = (
        embeddings.select(id_col, vec_col)
        .repartition(n_parts, id_col)
        .persist()
    )
    vecs = cached
    # size-adaptive task count (guide §2: derive parallelism from input
    # size, not a constant): the count() both materializes the cache (a
    # pass the init scan paid anyway) and guards the sampled-train
    # contract — with train_fraction < 1 a small corpus can yield fewer
    # sample rows than centroids, which previously surfaced as an opaque
    # np.stack error.  A tiny train set then folds in a few tasks
    # instead of paying defaultParallelism python-worker round-trips per
    # Lloyd iteration (~0.1 s/job of pure task overhead at 32 cores on a
    # 2k-row table); a large one keeps full parallelism.
    n_train = cached.count()
    if n_train == 0:
        cached.unpersist()
        raise ValueError(
            f"IVF train set is empty (train_fraction={train_fraction}): "
            "no vectors to train centroids on"
        )
    if n_train < n_clusters and train_fraction < 1.0:
        # An undersized hash sample would silently break the documented
        # n_clusters x dim quantizer shape.  Raise a CLEAR error instead
        # of silently retraining on the full corpus: train_fraction
        # exists to bound train cost, and a silent full-corpus Lloyd run
        # at scale is the exact cost surprise the knob guards against
        # (the caller can widen the fraction or pass 1.0 explicitly).  The
        # clamp-to-corpus-size behavior for a genuinely tiny FULL corpus
        # is unchanged below.
        cached.unpersist()
        raise ValueError(
            f"IVF train sample has {n_train} rows < n_clusters="
            f"{n_clusters} (train_fraction={train_fraction} sampled too "
            "few rows; widen it or pass train_fraction=1.0 to train on "
            "the full corpus)"
        )
    rows_per_task = 10_000
    n_adaptive = min(n_parts, max(1, -(-n_train // rows_per_task)))
    if n_adaptive < n_parts:
        # narrow (no shuffle), reads the cached blocks
        vecs = cached.coalesce(n_adaptive)
    centroids = ivf_init_centroids(vecs, n_clusters, seed, vec_col, id_col)
    partial_schema = StructType(
        [
            StructField("cluster", IntegerType()),
            StructField("pos", IntegerType()),
            StructField("val", DoubleType()),
            StructField("cnt", DoubleType()),
        ]
    )
    for _ in range(n_iters):
        ct = centroids.T.copy()  # (dim, k) — closure-captured broadcast
        k = ct.shape[1]

        def partials(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            # per-batch partial sums: (cluster, pos, val) + one cnt row
            # per cluster (pos = -1) — k x (dim+1) rows per batch, never
            # the batch itself
            for pdf in batches:
                if not len(pdf):
                    continue
                mat = _normalized(_batch_matrix(pdf, vec_col))
                assign = np.argmax(mat @ ct, axis=1)
                out_c, out_p, out_v, out_n = [], [], [], []
                for c in np.unique(assign):
                    members = mat[assign == c]
                    s = members.sum(axis=0)
                    dim = s.shape[0]
                    out_c.extend([int(c)] * (dim + 1))
                    out_p.extend(list(range(dim)) + [-1])
                    out_v.extend(list(s) + [0.0])
                    out_n.extend([0.0] * dim + [float(len(members))])
                yield pd.DataFrame(
                    {
                        "cluster": np.asarray(out_c, dtype=np.int32),
                        "pos": np.asarray(out_p, dtype=np.int32),
                        "val": np.asarray(out_v, dtype=np.float64),
                        "cnt": np.asarray(out_n, dtype=np.float64),
                    }
                )

        agg = (
            vecs.mapInPandas(partials, partial_schema)
            .groupBy("cluster", "pos")
            .agg(F.sum("val").alias("val"), F.sum("cnt").alias("cnt"))
            .collect()
        )
        sums = np.zeros_like(centroids)
        counts = np.zeros(k, dtype=np.float64)
        for r in agg:
            if r["pos"] < 0:
                counts[r["cluster"]] = r["cnt"]
            else:
                sums[r["cluster"], r["pos"]] = r["val"]
        nonempty = counts > 0
        centroids = centroids.copy()
        centroids[nonempty] = _normalized(sums[nonempty])
    cached.unpersist()
    return centroids


def ivf_assignments(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, cluster) coarse-quantizer assignment — one matmul per batch.

    This is the frame a persisted IVF index tape would store (the IVF
    analog of ann_index.LshIndexTape's bucket codes); recomputed here for
    the one-shot path.
    """
    ct = _normalized(np.asarray(centroids, dtype=np.float64)).T.copy()
    out_schema = StructType(
        [
            StructField(id_col, embeddings.schema[id_col].dataType),
            StructField("cluster", IntegerType()),
        ]
    )

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                mat = _normalized(_batch_matrix(pdf, vec_col))
                cl = np.argmax(mat @ ct, axis=1).astype(np.int32)
            else:
                cl = np.empty(0, dtype=np.int32)
            yield pd.DataFrame({id_col: pdf[id_col].values, "cluster": cl})

    n_parts = embeddings.sparkSession.sparkContext.defaultParallelism
    return (
        embeddings.select(id_col, vec_col)
        .repartition(n_parts, id_col)  # single parquet file = single task
        .mapInPandas(assign, out_schema)
    )


def probe_clusters(
    query_vec: list[float], centroids: np.ndarray, nprobe: int
) -> list[int]:
    """The query's nprobe nearest centroids (driver-side: k x dim is
    tiny by construction).  Ties break by cluster id ascending."""
    c = _normalized(np.asarray(centroids, dtype=np.float64))
    q = np.asarray(query_vec, dtype=np.float64)
    n = np.linalg.norm(q)
    q = q / n if n else q
    sims = c @ q
    order = np.lexsort((np.arange(len(sims)), -sims))
    return [int(i) for i in order[:nprobe]]


def ivf_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: exact cosine re-rank over the vectors whose cluster is
    among the query's nprobe nearest centroids.

    Candidates come from a semi-join of the assignment frame against a
    literal IN-list (no shuffle of the corpus; with assignments persisted
    and the tape partitioned by cluster this is partition pruning), then
    the shared brute_cosine_topk — a TakeOrderedAndProject, no global
    sort.  Recall vs brute force is pytest-gated like the LSH path.
    """
    probes = probe_clusters(query_vec, centroids, nprobe)
    if len(probes) >= len(centroids):
        # Exhaustive probe (nprobe >= n_clusters): every vector's cluster
        # is in the probe set by construction, so the assignment pass +
        # candidate semi-join is a provable no-op — re-rank the corpus
        # directly (the same elimination FAISS applies at nprobe=nlist).
        # The pruned path below is unchanged and stays recall-gated by
        # tests/test_ann_ivf.py; the persisted-index path (IvfIndexTape)
        # always materializes assignments.
        return brute_cosine_topk(embeddings, query_vec, k, vec_col, id_col)
    assigned = ivf_assignments(embeddings, centroids, vec_col, id_col)
    candidate_ids = assigned.filter(
        F.col("cluster").isin([int(p) for p in probes])
    ).select(id_col)
    candidates = embeddings.join(candidate_ids, id_col, "left_semi")
    return brute_cosine_topk(candidates, query_vec, k, vec_col, id_col)


def ivf_cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_clusters: int = 16,
    nprobe: int = 4,
    n_iters: int = 5,
    seed: int = 42,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_fraction: float = 1.0,
) -> DataFrame:
    """One-shot IVF ANN: train + assign + probe in a single call.

    For repeated queries, train once (ivf_train), persist the
    assignments, and call ivf_topk — training is the expensive part and
    is deterministic for a given corpus + seed.  ``train_fraction``
    samples the TRAIN set only (see ivf_train); assignment, probe, and
    re-rank always cover the full corpus.
    """
    centroids = ivf_train(
        embeddings, n_clusters, n_iters, seed, vec_col, id_col,
        train_fraction,
    )
    return ivf_topk(
        embeddings, query_vec, centroids, k, nprobe, vec_col, id_col
    )


class IvfIndexTape(ContentHashIndex):
    """Persisted IVF index — the learned-quantizer analog of
    :class:`tapes_spark.operators.ann_index.LshIndexTape` (reference
    role: pkg/spanembed/store.go:176-180, the saved vector index).

    Two snapshot-versioned tapes under one root:

      * ``centroids/`` — the trained quantizer, k x dim as (cluster,
        pos, val) rows.  Trained ONCE per config, in the full-build hook;
        new data does NOT retrain it (the standard IVF contract: the
        coarse quantizer is fixed, assignment is cheap) — a config change
        or an explicit ``refresh(..., retrain=True)`` rebuilds it.
      * ``assignments/`` — (id, vec_hash, cluster), the
        :class:`ContentHashIndex` tape: unchanged hash = skip (no
        matmul), new id = append, changed content = partition overwrite.

    Queries load the k x dim centroid matrix driver-side (bounded by
    construction), rank probes, and FILTER the assignment tape — no
    corpus shuffle, no Python recompute; the exact re-rank reads only
    the candidate vectors.
    """

    hash_col = "vec_hash"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int,
        n_clusters: int = 16,
        n_iters: int = 5,
        seed: int = 42,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
        train_fraction: float = 1.0,
    ):
        self.cent_tape = TapeTable(spark, os.path.join(root, "centroids"))
        self.assign_tape = TapeTable(
            spark, os.path.join(root, "assignments")
        )
        super().__init__(spark, self.assign_tape)
        self.dim = dim
        self.n_clusters = n_clusters
        self.n_iters = n_iters
        self.seed = seed
        self.vec_col = vec_col
        self.id_col = id_col
        self.train_fraction = train_fraction
        self.config = (
            f"ivf-v1:dim={dim}:k={n_clusters}:iters={n_iters}:seed={seed}"
            # appended only when sampling so pre-existing full-train
            # tapes keep validating against their stored config
            + (f":tf={train_fraction}" if train_fraction != 1.0 else "")
        )

    # ---------------------------------------------------------- build

    def load_centroids(self) -> np.ndarray:
        """The trained quantizer from the tape — k x dim, driver-side
        (bounded by construction, never the corpus)."""
        rows = self.cent_tape.read().collect()
        k = max(r["cluster"] for r in rows) + 1
        mat = np.zeros((k, self.dim), dtype=np.float64)
        for r in rows:
            mat[r["cluster"], r["pos"]] = r["val"]
        return mat

    def _centroid_rows(self, centroids: np.ndarray) -> DataFrame:
        k, dim = centroids.shape
        data = [
            (int(c), int(p), float(centroids[c, p]))
            for c in range(k)
            for p in range(dim)
        ]
        return self.spark.createDataFrame(
            data,
            StructType(
                [
                    StructField("cluster", IntegerType()),
                    StructField("pos", IntegerType()),
                    StructField("val", DoubleType()),
                ]
            ),
        )

    def content_hash(self) -> F.Column:
        return vec_content_hash(self.vec_col)

    def _codes(self, embeddings: DataFrame) -> DataFrame:
        """(id, cluster) under the stored quantizer — one matmul per
        batch."""
        return ivf_assignments(
            embeddings, self.load_centroids(), self.vec_col, self.id_col
        )

    def _full_build(self, embeddings: DataFrame, lineage: dict) -> None:
        centroids = ivf_train(
            embeddings, self.n_clusters, self.n_iters, self.seed,
            self.vec_col, self.id_col, self.train_fraction,
        )
        self.cent_tape.overwrite(
            self._centroid_rows(centroids), {**lineage, "op": "train"}
        )
        super()._full_build(embeddings, lineage)

    def refresh(
        self, embeddings: DataFrame, retrain: bool = False
    ) -> dict:
        """One incremental maintenance pass (the ContentHashIndex
        ladder); ``retrain`` forces the full build."""
        return self._refresh(embeddings, rebuild=retrain)

    # ---------------------------------------------------------- query

    def topk(
        self,
        embeddings: DataFrame,
        query_vec: list[float],
        k: int = 10,
        nprobe: int = 4,
    ) -> DataFrame:
        """ANN top-k served from the persisted index: stored quantizer
        ranks probes driver-side, stored assignments filter candidates
        (no matmul over the corpus), exact re-rank reads only candidate
        vectors."""
        centroids = self.load_centroids()
        probes = probe_clusters(query_vec, centroids, nprobe)
        candidate_ids = (
            self.assign_tape.read()
            .filter(F.col("cluster").isin([int(p) for p in probes]))
            .select(self.id_col)
        )
        candidates = embeddings.join(candidate_ids, self.id_col, "left_semi")
        return brute_cosine_topk(
            candidates, query_vec, k, self.vec_col, self.id_col
        )
