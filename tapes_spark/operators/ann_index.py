"""Persisted LSH index tape — the ANN index as a first-class sink.

The reference persists its vector index and serves queries from it
(/root/reference/pkg/spanembed/store.go:176-180, 568-612: the HNSW store
is built once, saved, and loaded per query); recomputing bucket codes
from raw embeddings on every call is fine for one-shot jobs but wrong
for a query service over a 100 TB corpus — the bucket table IS the
index.  ``LshIndexTape`` materializes :func:`similarity.lsh_bucket_arrays`
output as a :class:`ContentHashIndex` keyed per vector: unchanged
vectors are skipped (no decode, no matmul), and a config change
(dim/tables/bits/seed) rebuilds the whole tape.

Queries (:meth:`topk`, :meth:`dup_pairs`) read the tape and share the
exact query half of the recompute path (``similarity.topk_from_buckets``
/ ``pairs_from_buckets``), so indexed and recomputed answers are
bit-identical for the same corpus snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tapes_spark.operators.similarity import (
    lsh_bucket_arrays,
    pairs_from_buckets,
    topk_from_buckets,
)
from tapes_spark.tapelog.content_index import ContentHashIndex
from tapes_spark.tapelog.table import TapeTable


def vec_content_hash(vec_col: str) -> F.Column:
    """Deterministic 64-bit content hash of an embedding column (the
    change-detector key, D4).  String-cast of the float array is stable
    for identical binary content."""
    return F.xxhash64(F.col(vec_col).cast("array<double>").cast("string"))


class LshIndexTape(ContentHashIndex):
    hash_col = "vec_hash"

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        dim: int,
        n_tables: int = 12,
        bits: int = 8,
        seed: int = 42,
        vec_col: str = "embedding",
        id_col: str = "vec_id",
    ):
        super().__init__(spark, TapeTable(spark, root))
        self.dim = dim
        self.n_tables = n_tables
        self.bits = bits
        self.seed = seed
        self.vec_col = vec_col
        self.id_col = id_col
        self.config = (
            f"lsh-v1:dim={dim}:tables={n_tables}:bits={bits}:seed={seed}"
        )

    def content_hash(self) -> F.Column:
        return vec_content_hash(self.vec_col)

    def _codes(self, embeddings: DataFrame) -> DataFrame:
        """(id, buckets) — ONE numpy matmul batch path."""
        return lsh_bucket_arrays(
            embeddings, self.dim, self.n_tables, self.bits, self.seed,
            self.vec_col, self.id_col,
        )

    def refresh(self, embeddings: DataFrame) -> dict:
        """One incremental maintenance pass (the ContentHashIndex ladder)."""
        return self._refresh(embeddings)

    # ---------------------------------------------------------- query

    def read_buckets(self) -> DataFrame:
        """(id, buckets) from the CURRENT index snapshot — no matmul, no
        Python stage: queries scan stored codes."""
        return self.tape.read().select(self.id_col, "buckets")

    def topk(
        self, embeddings: DataFrame, query_vec: list[float], k: int = 10
    ) -> DataFrame:
        """ANN top-k served from the persisted index (exact re-rank of
        candidates reads *embeddings* for vectors)."""
        return topk_from_buckets(
            self.read_buckets(), embeddings, query_vec, k,
            self.n_tables, self.bits, self.seed, self.vec_col, self.id_col,
        )

    def dup_pairs(
        self, embeddings: DataFrame, threshold: float = 0.9
    ) -> DataFrame:
        """Near-dup pairs served from the persisted index."""
        return pairs_from_buckets(
            self.read_buckets(), embeddings, threshold, self.n_tables,
            self.vec_col, self.id_col,
        )
