"""IVF ANN gates (operators/ann_ivf.py) over the driver embeddings table
(sf0.001): the learned coarse quantizer must be deterministic, the
exhaustive configuration must equal brute force exactly, and the pruned
configuration must keep recall."""

from __future__ import annotations

import numpy as np
import pytest

from tapes_spark.operators import ann_ivf
from tapes_spark.operators.similarity import brute_cosine_topk

SF = "/root/testdata/sf0.001"

N_CLUSTERS = 16
N_ITERS = 3


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


@pytest.fixture(scope="module")
def qvec(emb):
    return list(
        emb.filter("vec_id = 0").select("embedding").collect()[0][0]
    )


@pytest.fixture(scope="module")
def corpus(emb):
    return emb.filter("vec_id <> 0")


@pytest.fixture(scope="module")
def centroids(corpus):
    return ann_ivf.ivf_train(
        corpus, n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=42
    )


class TestTrain:
    def test_deterministic(self, corpus, centroids):
        again = ann_ivf.ivf_train(
            corpus, n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=42
        )
        assert np.array_equal(centroids, again)

    def test_unit_norm_rows(self, centroids):
        norms = np.linalg.norm(centroids, axis=1)
        assert np.allclose(norms, 1.0)

    def test_shape(self, centroids, corpus):
        dim = len(corpus.select("embedding").first()[0])
        assert centroids.shape == (N_CLUSTERS, dim)


class TestAssignments:
    def test_total_and_range(self, corpus, centroids):
        assigned = ann_ivf.ivf_assignments(corpus, centroids)
        rows = assigned.collect()
        assert len(rows) == corpus.count()
        assert len({r["vec_id"] for r in rows}) == len(rows)
        assert all(0 <= r["cluster"] < N_CLUSTERS for r in rows)

    def test_learned_cells_nontrivial(self, corpus, centroids):
        """Lloyd iterations must actually spread the corpus: more than
        one populated cell, and no cell holding everything."""
        assigned = ann_ivf.ivf_assignments(corpus, centroids)
        counts = [
            r["n"]
            for r in assigned.groupBy("cluster").count()
            .withColumnRenamed("count", "n").collect()
        ]
        assert len(counts) > 1
        assert max(counts) < corpus.count()


class TestSearch:
    def test_exhaustive_probe_equals_brute(self, corpus, centroids, qvec):
        """nprobe == n_clusters prunes nothing, so the IVF path must
        reproduce the exact brute-force top-k bit-for-bit.  ivf_topk now
        ELIMINATES the no-op assignment pass at nprobe >= n_clusters, so
        to keep a bit-exactness gate on the assignment + candidate
        semi-join + re-rank machinery this test drives that path
        explicitly (the un-shortcut composition) as well as the public
        entry."""
        from pyspark.sql import functions as F

        brute = brute_cosine_topk(corpus, qvec, k=10).collect()
        ivf = ann_ivf.ivf_topk(
            corpus, qvec, centroids, k=10, nprobe=N_CLUSTERS
        ).collect()
        assert [r.asDict() for r in ivf] == [r.asDict() for r in brute]
        # un-shortcut machinery: filter candidates through the assignment
        # frame for ALL probes and re-rank — must still equal brute force
        probes = ann_ivf.probe_clusters(qvec, centroids, N_CLUSTERS)
        assigned = ann_ivf.ivf_assignments(corpus, centroids)
        candidate_ids = assigned.filter(
            F.col("cluster").isin([int(x) for x in probes])
        ).select("vec_id")
        candidates = corpus.join(candidate_ids, "vec_id", "left_semi")
        manual = brute_cosine_topk(candidates, qvec, k=10).collect()
        assert [r.asDict() for r in manual] == [r.asDict() for r in brute]

    def test_pruned_probe_recall(self, corpus, centroids, qvec):
        """At nprobe=8/16 the pruned search must keep >=50% of the true
        top-10 and every hit it does return must carry the exact brute
        cosine (re-rank is exact; only the candidate set is approximate).
        The driver corpus is near-RANDOM dim-64 vectors (top cosine
        ~0.33, i.e. no planted neighbors), the hardest case for a
        learned quantizer — observed deterministic recall is 6/10; real
        clustered corpora probe far fewer cells for the same recall.
        """
        brute = {
            r["vec_id"]: r["cosine"]
            for r in brute_cosine_topk(corpus, qvec, k=10).collect()
        }
        ivf = ann_ivf.ivf_topk(
            corpus, qvec, centroids, k=10, nprobe=8
        ).collect()
        hits = [r for r in ivf if r["vec_id"] in brute]
        assert len(hits) >= 5, f"recall {len(hits)}/10 below gate"
        for r in hits:
            assert r["cosine"] == brute[r["vec_id"]]

    def test_deterministic(self, corpus, qvec):
        a = ann_ivf.ivf_cosine_topk(
            corpus, qvec, k=5, n_clusters=N_CLUSTERS, nprobe=4,
            n_iters=N_ITERS,
        ).collect()
        b = ann_ivf.ivf_cosine_topk(
            corpus, qvec, k=5, n_clusters=N_CLUSTERS, nprobe=4,
            n_iters=N_ITERS,
        ).collect()
        assert a == b

    def test_tiny_corpus_more_clusters_than_vectors(self, corpus, qvec):
        """k-seed init clamps to the corpus size; search still answers."""
        tiny = corpus.limit(5)
        cents = ann_ivf.ivf_train(tiny, n_clusters=8, n_iters=2)
        assert cents.shape[0] <= 8
        out = ann_ivf.ivf_topk(tiny, qvec, cents, k=3, nprobe=8).collect()
        assert len(out) == 3


class TestIvfIndexTape:
    def _tape(self, spark, corpus, tmp_path):
        dim = len(corpus.select("embedding").first()[0])
        return ann_ivf.IvfIndexTape(
            spark, str(tmp_path / "ivf"), dim,
            n_clusters=N_CLUSTERS, n_iters=N_ITERS,
        )

    def test_indexed_topk_matches_recompute(
        self, spark, corpus, centroids, qvec, tmp_path
    ):
        idx = self._tape(spark, corpus, tmp_path)
        idx.refresh(corpus)
        # the stored quantizer IS the trained one (same corpus + seed)
        import numpy as np

        assert np.allclose(idx.load_centroids(), centroids)
        for nprobe in (8, N_CLUSTERS):
            got = idx.topk(corpus, qvec, k=10, nprobe=nprobe).collect()
            want = ann_ivf.ivf_topk(
                corpus, qvec, centroids, k=10, nprobe=nprobe
            ).collect()
            assert got == want

    def test_refresh_ladder_trains_once(
        self, spark, corpus, qvec, tmp_path
    ):
        from pyspark.sql import functions as F

        idx = self._tape(spark, corpus, tmp_path)
        n = corpus.count()
        first = idx.refresh(corpus)
        assert first["mode"] == "full" and first["indexed"] == n
        second = idx.refresh(corpus)
        assert second == {"mode": "incremental", "indexed": 0,
                          "up_to_date": n, "changed": 0}
        # new ids: appended under the FIXED quantizer — no retrain
        n_cent_snaps = len(idx.cent_tape.snapshots())
        extra = corpus.limit(3).withColumn(
            "vec_id", F.col("vec_id") + 1_000_000
        )
        third = idx.refresh(corpus.unionByName(extra))
        assert third["indexed"] == 3 and third["changed"] == 0
        assert third["up_to_date"] == n
        assert len(idx.cent_tape.snapshots()) == n_cent_snaps
        assert idx.assign_tape.read().count() == n + 3

    def test_changed_vector_reassigned(self, spark, corpus, tmp_path):
        from pyspark.sql import functions as F

        idx = self._tape(spark, corpus, tmp_path)
        idx.refresh(corpus)
        mutated = corpus.withColumn(
            "embedding",
            F.when(
                F.col("vec_id") == 17,
                F.transform("embedding", lambda x: -x),
            ).otherwise(F.col("embedding")),
        )
        res = idx.refresh(mutated)
        assert res["changed"] == 1 and res["indexed"] == 1
        assert idx.assign_tape.read().count() == corpus.count()
        # stored assignment for the flipped vector matches a recompute
        cents = idx.load_centroids()
        want = {
            r["vec_id"]: r["cluster"]
            for r in ann_ivf.ivf_assignments(mutated, cents).collect()
        }
        got = {
            r["vec_id"]: r["cluster"]
            for r in idx.assign_tape.read().collect()
        }
        assert got == want

    def test_config_change_rebuilds(self, spark, corpus, tmp_path):
        idx = self._tape(spark, corpus, tmp_path)
        idx.refresh(corpus)
        dim = idx.dim
        idx2 = ann_ivf.IvfIndexTape(
            spark, str(tmp_path / "ivf"), dim,
            n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=7,
        )
        res = idx2.refresh(corpus)
        assert res["mode"] == "full"


class TestSampledTrain:
    """train_fraction < 1 (the 100-TB scale path): the quantizer trains
    on a deterministic hash sample; assignment/probe/re-rank stay full
    and exact, so the exhaustive configuration must STILL equal brute
    force bit-for-bit regardless of centroid quality."""

    def test_default_fraction_is_identity(self, corpus, centroids):
        full = ann_ivf.ivf_train(
            corpus, n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=42,
            train_fraction=1.0,
        )
        assert np.array_equal(full, centroids)

    def test_sampled_exhaustive_probe_equals_brute(self, corpus, qvec):
        brute = brute_cosine_topk(corpus, qvec, k=10).collect()
        ivf = ann_ivf.ivf_cosine_topk(
            corpus, qvec, k=10, n_clusters=N_CLUSTERS,
            nprobe=N_CLUSTERS, n_iters=N_ITERS, train_fraction=0.5,
        ).collect()
        assert [r.asDict() for r in ivf] == [r.asDict() for r in brute]

    def test_sampled_train_deterministic_and_valid(self, corpus):
        a = ann_ivf.ivf_train(
            corpus, n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=42,
            train_fraction=0.25,
        )
        b = ann_ivf.ivf_train(
            corpus, n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=42,
            train_fraction=0.25,
        )
        assert np.array_equal(a, b)
        assert np.allclose(np.linalg.norm(a, axis=1), 1.0)

    def test_fraction_validation(self, corpus):
        for bad in (0.0, -0.1, 1.5):
            with pytest.raises(ValueError):
                ann_ivf.ivf_train(corpus, train_fraction=bad)

    def test_index_tape_config_keyed_on_fraction(
        self, spark, corpus, tmp_path
    ):
        dim = len(corpus.select("embedding").first()[0])
        idx = ann_ivf.IvfIndexTape(
            spark, str(tmp_path / "ivf_tf"), dim,
            n_clusters=N_CLUSTERS, n_iters=N_ITERS,
        )
        idx.refresh(corpus)
        # same tape root opened with a sampled config: full rebuild
        idx2 = ann_ivf.IvfIndexTape(
            spark, str(tmp_path / "ivf_tf"), dim,
            n_clusters=N_CLUSTERS, n_iters=N_ITERS, train_fraction=0.5,
        )
        assert idx2.config != idx.config
        res = idx2.refresh(corpus)
        assert res["mode"] == "full"
        # and the stored quantizer now matches the sampled train
        want = ann_ivf.ivf_train(
            corpus, n_clusters=N_CLUSTERS, n_iters=N_ITERS, seed=42,
            train_fraction=0.5,
        )
        assert np.allclose(idx2.load_centroids(), want)


class TestSampledTrainGuard:
    def test_undersized_sample_raises_clearly(self, spark, corpus):
        """train_fraction guard (r6, advice item): a hash sample with
        fewer rows than n_clusters must not silently shrink the quantizer
        (or silently retrain on the full corpus, defeating the bounded
        train-cost contract) — it raises a clear error naming the knob."""
        tiny = corpus.limit(40)
        with pytest.raises(ValueError, match="train_fraction"):
            ann_ivf.ivf_train(
                tiny, n_clusters=N_CLUSTERS, n_iters=2, seed=42,
                train_fraction=0.05,
            )
        # the documented clamp for a genuinely tiny FULL corpus remains
        cents = ann_ivf.ivf_train(tiny, n_clusters=N_CLUSTERS, n_iters=2)
        dim = len(corpus.select("embedding").first()[0])
        assert cents.shape == (N_CLUSTERS, dim)

    def test_empty_train_set_raises_clearly(self, spark, corpus):
        """An empty train set fails with a clear error at any
        train_fraction, not an opaque np.stack error in the seed pick."""
        empty = corpus.filter("vec_id < 0")
        for fraction in (1.0, 0.5):
            with pytest.raises(ValueError, match="train set is empty"):
                ann_ivf.ivf_train(
                    empty, n_clusters=N_CLUSTERS, n_iters=2,
                    train_fraction=fraction,
                )
