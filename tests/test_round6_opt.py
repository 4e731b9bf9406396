"""Round-6 optimization tests.

Pins the r6 scale/efficiency changes:
  * pip_tile_counts self-enforces its materialized-points contract
    (VERDICT r5 #6); the driver collect gate it shares with
    spatial_join is tested in test_joins.py;
  * spatial_join_polygons' r6 row-level refine matches brute force on
    a MIXED side (rectangles x triangles — exercises the general
    branch the all-rect bench shape skips);
  * fanout_repartition is a no-op at adequate parallelism / above the
    byte cap and preserves rows when it fires.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def spark():
    s = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _boxes(spark, n, half=1.505):
    from geospark.functions.geometry import st_geomfromtext
    cx = ((F.col("id") * 3) % 300).cast("double") - 150.0
    cy = ((F.col("id") * 7) % 150).cast("double") - 75.0
    h = F.lit(half)
    x0, y0 = (cx - h).cast("string"), (cy - h).cast("string")
    x1, y1 = (cx + h).cast("string"), (cy + h).cast("string")
    wkt = F.concat(F.lit("POLYGON (("),
                   x0, F.lit(" "), y0, F.lit(", "),
                   x1, F.lit(" "), y0, F.lit(", "),
                   x1, F.lit(" "), y1, F.lit(", "),
                   x0, F.lit(" "), y1, F.lit(", "),
                   x0, F.lit(" "), y0, F.lit("))"))
    return spark.range(n).select(
        F.col("id").alias("zone_id"),
        st_geomfromtext(wkt).alias("geom_wkb"))


def _pts(spark, n=4000):
    # LCG-spread coordinates (3 decimals) — integer-lattice points with
    # small multipliers can be PROVABLY disjoint from the integer box
    # grid by a modular argument, which silently empties the join
    return spark.range(n).select(
        F.col("id").alias("pid"),
        ((((F.col("id") * 1103515245 + 12345) % 160000) / 1000.0)
         .cast("double") - 80.0).alias("lat"),
        ((((F.col("id") * 69069 + 1) % 340000) / 1000.0)
         .cast("double") - 170.0).alias("lon"))


class TestPipTileCountsMaterializeGuard:
    def _count_materialize(self, monkeypatch):
        import geospark.operators.joins as J
        calls = []
        real = J.materialize

        def spy(df, **kw):
            calls.append(1)
            return real(df, **kw)

        monkeypatch.setattr(J, "materialize", spy)
        return calls

    def test_expensive_upstream_is_frozen_once(self, spark,
                                               monkeypatch):
        """A points plan with a Generate upstream must be materialized
        exactly once before the two-subtree consumption."""
        from geospark.operators.joins import pip_tile_counts
        calls = self._count_materialize(monkeypatch)
        pts = _pts(spark, 500).withColumn(
            "_dup", F.explode(F.array(F.lit(1)))).drop("_dup")
        out = pip_tile_counts(pts, _boxes(spark, 40), res=6)
        assert sum(calls) == 1
        assert out.count() > 0

    def test_scan_backed_points_pass_through(self, spark, monkeypatch):
        """A plain scan/project points input must NOT be checkpointed
        (no extra job, no frozen copy)."""
        from geospark.operators.joins import pip_tile_counts
        import geospark.queries as q
        calls = self._count_materialize(monkeypatch)
        pip_tile_counts(q._cust_points(spark, SF),
                        q.fixed_zones_df(spark), res=6)
        assert sum(calls) == 0

    def test_window_named_column_scan_passes_through(self, spark,
                                                     monkeypatch,
                                                     tmp_path):
        """The opaque-plan check reads plan node names: a plain parquet
        scan with a column NAMED like a plan node must not be
        checkpointed."""
        from geospark.operators.joins import pip_tile_counts
        _pts(spark, 500).withColumn("Window", F.lit(1)) \
            .write.parquet(str(tmp_path / "pts"))
        calls = self._count_materialize(monkeypatch)
        out = pip_tile_counts(spark.read.parquet(str(tmp_path / "pts")),
                              _boxes(spark, 40), res=6)
        assert sum(calls) == 0
        assert out.count() > 0


class TestPolyJoinMixedTiers:
    def test_mixed_rect_triangle_matches_brute_force(self, spark):
        """r6 row-level refine: rect x rect pairs decided pre-agg, the
        residue by exact geometry — a mixed join must equal the O(n^2)
        kernel answer."""
        from geospark.kernels.geom import parse_wkt
        from geospark.kernels.ops import geom_intersects
        from geospark.kernels.wkb import parse_wkb, write_wkb
        from geospark.operators.joins import spatial_join_polygons
        rng = np.random.default_rng(7)
        lrows = []
        for i in range(30):  # rectangles
            cx, cy = rng.uniform(-100, 100), rng.uniform(-50, 50)
            h = rng.uniform(1.0, 4.0)
            w = (f"POLYGON (({cx-h!r} {cy-h!r}, {cx+h!r} {cy-h!r}, "
                 f"{cx+h!r} {cy+h!r}, {cx-h!r} {cy+h!r}, "
                 f"{cx-h!r} {cy-h!r}))")
            lrows.append((i, write_wkb(parse_wkt(w))))
        rrows = []
        for i in range(30):  # triangles (general tier)
            cx, cy = rng.uniform(-100, 100), rng.uniform(-50, 50)
            p = rng.uniform(-4, 4, (3, 2)) + np.array([cx, cy])
            ring = np.vstack([p, p[:1]])
            body = ", ".join(f"{a!r} {b!r}" for a, b in ring)
            rrows.append((1000 + i,
                          write_wkb(parse_wkt(f"POLYGON (({body}))"))))
        l = spark.createDataFrame(lrows, "l_id long, geom_wkb binary")
        r = spark.createDataFrame(rrows, "r_id long, geom_wkb binary")
        got = {(x.l_id, x.r_id) for x in
               spatial_join_polygons(l, r, res=5).collect()}
        want = set()
        for lid, lw in lrows:
            gl = parse_wkb(lw)
            for rid, rw in rrows:
                if geom_intersects(gl, parse_wkb(rw)):
                    want.add((lid, rid))
        assert got == want and len(want) > 0


class TestFanoutRepartition:
    def test_fires_small_input(self, spark):
        from geospark.operators.par import fanout_repartition
        df = spark.range(100).coalesce(1)
        out = fanout_repartition(df)
        assert out.rdd.getNumPartitions() == \
            spark.sparkContext.defaultParallelism
        assert sorted(r.id for r in out.collect()) == list(range(100))

    def test_noop_when_wide_enough(self, spark):
        from geospark.operators.par import fanout_repartition
        par = spark.sparkContext.defaultParallelism
        df = spark.range(1000).repartition(par)
        assert fanout_repartition(df) is df

    def test_noop_above_byte_cap(self, spark):
        from geospark.operators.par import fanout_repartition
        df = spark.range(100).coalesce(1)
        spark.conf.set("spark.geospark.fanout.repartitionMaxBytes", "1")
        try:
            assert fanout_repartition(df) is df
        finally:
            spark.conf.unset("spark.geospark.fanout.repartitionMaxBytes")
