"""Round-3 fixes: connected-components convergence contract +
large-star/small-star, kNN persist hygiene, semi/anti row-identity
determinism (the auto cover-distribution choice is tested in
test_joins.py)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F


def _chain_pairs(spark, n: int):
    """Path graph 0-1-2-...-(n-1): diameter n-1 — the adversarial case
    for min-label propagation."""
    return spark.range(n - 1).select(
        F.col("id").alias("doc_a"), (F.col("id") + 1).alias("doc_b"))


class TestConnectedComponents:
    def test_minlabel_raises_on_unconverged(self, spark):
        from geospark.operators.dedup import connected_components
        pairs = _chain_pairs(spark, 50)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iters=5).collect()

    def test_star_converges_log_rounds_on_long_chain(self, spark):
        from geospark.operators.dedup import connected_components
        # chain of 1000: minlabel needs 999 rounds; star must finish in
        # O(log n) — 12 alternating rounds is ~log2(1000) + slack
        pairs = _chain_pairs(spark, 1000)
        out = connected_components(pairs, max_iters=12,
                                   algorithm="star").collect()
        assert len(out) == 1000
        assert all(r.cluster_id == 0 for r in out)
        assert sorted(r.doc_id for r in out) == list(range(1000))

    def test_star_equals_minlabel_on_random_graph(self, spark):
        from geospark.operators.dedup import connected_components
        rng = np.random.default_rng(7)
        edges = {(int(a), int(b)) for a, b in
                 zip(rng.integers(0, 200, 300),
                     rng.integers(0, 200, 300)) if a != b}
        pairs = spark.createDataFrame(
            [(a, b) for a, b in sorted(edges)], "doc_a long, doc_b long")
        ml = {(r.doc_id, r.cluster_id) for r in
              connected_components(pairs).collect()}
        st = {(r.doc_id, r.cluster_id) for r in
              connected_components(pairs, algorithm="star").collect()}
        assert ml == st

    def test_star_singleton_free_output_matches_node_set(self, spark):
        from geospark.operators.dedup import connected_components
        pairs = spark.createDataFrame(
            [(5, 9), (9, 5), (1, 2)], "doc_a long, doc_b long")
        out = {(r.doc_id, r.cluster_id) for r in
               connected_components(pairs, algorithm="star").collect()}
        assert out == {(5, 5), (9, 5), (1, 1), (2, 1)}


class TestKnnPersistHygiene:
    def test_caches_do_not_accumulate(self, spark):
        from geospark.operators.joins import knn_join
        rng = np.random.default_rng(3)
        pts = spark.createDataFrame(
            [(int(i), float(la), float(lo)) for i, (la, lo) in
             enumerate(zip(rng.uniform(-85, 85, 400),
                           rng.uniform(-175, 175, 400)))],
            "point_id long, lat double, lon double")
        qs = spark.createDataFrame(
            [(int(i), float(la), float(lo)) for i, (la, lo) in
             enumerate(zip(rng.uniform(-85, 85, 60),
                           rng.uniform(-175, 175, 60)))],
            "query_id long, q_lat double, q_lon double")
        jsc = spark.sparkContext._jsc.sc()
        before = jsc.getPersistentRDDs().size()
        out = knn_join(qs, pts, 5, res=6)
        n = out.count()
        assert n == 60 * 5
        after = jsc.getPersistentRDDs().size()
        # every per-iteration topk/remaining cache is unpersisted before
        # knn_join returns; the only surviving block is the single
        # checkpointed result (result-sized)
        assert after - before <= 2

    def test_knn_still_exact_after_hygiene(self, spark):
        from geospark.operators.joins import knn_join
        rng = np.random.default_rng(11)
        pts = [(int(i), float(la), float(lo)) for i, (la, lo) in
               enumerate(zip(rng.uniform(-80, 80, 300),
                             rng.uniform(-170, 170, 300)))]
        qs = [(int(i), float(la), float(lo)) for i, (la, lo) in
              enumerate(zip(rng.uniform(-80, 80, 40),
                            rng.uniform(-170, 170, 40)))]
        pdf = spark.createDataFrame(
            pts, "point_id long, lat double, lon double")
        qdf = spark.createDataFrame(
            qs, "query_id long, q_lat double, q_lon double")
        got = {(r.query_id, r.point_id, r.rank)
               for r in knn_join(qdf, pdf, 3, res=5).collect()}
        want = set()
        for qid, qla, qlo in qs:
            ranked = sorted(
                pts, key=lambda p: ((qla - p[1]) ** 2 + (qlo - p[2]) ** 2,
                                    p[0]))
            for rk, p in enumerate(ranked[:3], 1):
                want.add((qid, p[0], rk))
        assert got == want


class TestSemiAntiDeterminism:
    def test_semi_anti_partition_after_shuffle(self, spark):
        """points downstream of a repartition (nondeterministic row
        placement): semi + anti must still partition the input."""
        from geospark.operators.joins import spatial_join
        from geospark.queries import fixed_zones_df
        pts = spark.range(3000).select(
            F.col("id").alias("pid"),
            ((F.col("id") % 170).cast("double") - 85.0).alias("lat"),
            ((F.col("id") % 350).cast("double") - 175.0).alias("lon")) \
            .repartition(13)
        zones = fixed_zones_df(spark)
        n_semi = spatial_join(pts, zones, res=6, how="left_semi").count()
        n_anti = spatial_join(pts, zones, res=6, how="left_anti").count()
        assert n_semi + n_anti == 3000
        assert n_semi > 0 and n_anti > 0
