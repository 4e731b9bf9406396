"""Point-in-polygon join (operators/joins.py): the tier the router picks,
the module constants that steer it, and semi/anti row identity.

The router has no options beyond ``distributed=``; tests steer it by
monkeypatching its constants (DRIVER_MAX_POLYGONS, DRIVER_MAX_POLY_BYTES,
BROADCAST_MAX_COVER_ROWS, BROADCAST_COST_FACTOR, EXPR_REFINE_MAX_EDGES).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import geospark.operators.joins as J

pytestmark = pytest.mark.spark


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


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


def _hot_pts(spark, n=6000):
    """30% of the rows on one hot location inside a zone, 5% on one
    zone edge (a boundary cell), the rest spread: a hot-cell input."""
    base = _pts(spark, n)
    k = F.col("pid") % 20
    return base.select(
        "pid",
        F.when(k < 6, F.lit(10.0)).when(k == 6, F.lit(-60.0))
        .otherwise(F.col("lat")).alias("lat"),
        F.when(k < 6, F.lit(40.0)).when(k == 6, F.lit(-30.0))
        .otherwise(F.col("lon")).alias("lon"))


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


def _pairs(df, a="pid", b="zone_id"):
    return {tuple(r) for r in df.select(a, b).collect()}


@pytest.fixture(scope="module")
def geo(spark):
    from geospark.operators.extract import extract_pages
    from geospark.sources.synth import pages_df
    return extract_pages(pages_df(spark, 1500)).cache()


class TestShuffledHashCoverJoin:
    """The skew path: a hot cell is handled by the distributed tier's
    shuffled-hash cover join (AQE skew-join at run time), which must
    equal the driver broadcast result."""

    def test_hot_cell_shuffled_hash_equals_driver_broadcast(
            self, spark, monkeypatch):
        import geospark.queries as q
        pts, zones = _hot_pts(spark), q.fixed_zones_df(spark)
        want = _pairs(J.spatial_join(pts, zones, res=6))
        monkeypatch.setattr(J, "BROADCAST_MAX_COVER_ROWS", 0)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = J.spatial_join(pts, zones, res=6, distributed=True)
            p = _plan(out)
            got = _pairs(out)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert "ShuffledHashJoin" in p and "BroadcastHashJoin" not in p
        # both join inputs hash-partition on the cell
        assert p.count("hashpartitioning(_cell") >= 2
        assert got == want
        # the hot location is inside zone 2: 30% of the rows match it
        assert sum(1 for _pid, z in got if z == 2) >= 1800

    def test_pages_shuffled_hash_equals_driver_broadcast(
            self, spark, geo, monkeypatch):
        from geospark.sources.synth import zones_df
        zones = zones_df(spark)
        a = _pairs(J.spatial_join(geo, zones, res=8), "url")
        monkeypatch.setattr(J, "BROADCAST_MAX_COVER_ROWS", 0)
        b = _pairs(J.spatial_join(geo, zones, res=8, distributed=True),
                   "url")
        assert a == b and len(a) > 0


class TestRefineTiers:
    def test_udf_tier_is_single_pass(self, spark, monkeypatch, tmp_path):
        # the udf tier is a SINGLE `_full OR udf` filter (NULL-gated
        # poly_id makes interior rows O(1) in the batch) — no
        # interior/boundary Union re-executing the upstream per tier
        import geospark.queries as q
        _pts(spark).write.parquet(str(tmp_path / "pts"))
        pts = spark.read.parquet(str(tmp_path / "pts"))
        monkeypatch.setattr(J, "EXPR_REFINE_MAX_EDGES", 0)
        df = J.spatial_join(pts, q.fixed_zones_df(spark), res=q.RES_COARSE)
        p = _plan(df)
        assert "BroadcastHashJoin" in p
        assert "ArrowEvalPython" in p  # the refine
        tree = p.split("\n\n")[0]
        assert tree.count("Scan parquet") == 1
        assert "Union" not in tree

    def test_expr_and_udf_tiers_agree(self, spark, geo, monkeypatch):
        """The codegen'd expression refine and the pandas-UDF refine are
        the same arithmetic — outputs must be identical."""
        from geospark.sources.synth import zones_df
        zones = zones_df(spark)
        monkeypatch.setattr(J, "EXPR_REFINE_MAX_EDGES", 10 ** 9)
        expr = J.spatial_join(geo, zones, res=8)
        assert "ArrowEvalPython" not in _plan(expr)
        a = _pairs(expr, "url")
        monkeypatch.setattr(J, "EXPR_REFINE_MAX_EDGES", 0)
        udf = J.spatial_join(geo, zones, res=8)
        assert "ArrowEvalPython" in _plan(udf)
        b = _pairs(udf, "url")
        assert a == b and len(a) > 0


class TestAutoCoverChoice:
    def _pts(self, spark, n=2000):
        return spark.range(n).select(
            F.col("id").alias("pid"),
            ((F.col("id") % 170).cast("double") - 85.0).alias("lat"),
            ((F.col("id") % 350).cast("double") - 175.0).alias("lon"))

    def test_large_cover_auto_shuffles_not_broadcast(self, spark,
                                                      monkeypatch):
        # the auto gate compares the EXACT exploded-cover row count
        # (cover stats) against BROADCAST_MAX_COVER_ROWS — 16500 small
        # boxes genuinely fit a broadcast under the default cap, so pin
        # the over-cap branch by lowering the cap. Catalyst still
        # broadcasts small dims on its own, so compare exchange COUNTS
        # against the forced-broadcast plan.
        pts, boxes = self._pts(spark), _boxes(spark, 16500, half=0.505)
        # a tiny Range-backed test dim looks broadcastable to Catalyst's
        # own size estimate whatever we do; disable the automatic
        # threshold so the plan shows only OUR explicit broadcast hint
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            monkeypatch.setattr(J, "BROADCAST_MAX_COVER_ROWS", 1000)
            auto = _plan(J.spatial_join(pts, boxes, res=7,
                                        distributed=True))
            monkeypatch.setattr(J, "BROADCAST_MAX_COVER_ROWS", 10 ** 12)
            monkeypatch.setattr(J, "BROADCAST_COST_FACTOR", 0)
            forced_on = _plan(J.spatial_join(pts, boxes, res=7,
                                             distributed=True))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        assert auto.count("BroadcastExchange") \
            < forced_on.count("BroadcastExchange")
        assert auto.count("SortMergeJoin") \
            + auto.count("ShuffledHashJoin") > 0

    def test_small_cover_auto_broadcasts_and_paths_agree(self, spark,
                                                         monkeypatch):
        pts = self._pts(spark)
        boxes = _boxes(spark, 300, half=2.505)
        # auto = under-cap AND worth-it (point side >> cover). The
        # synthetic point side here is tiny, so the cost model rightly
        # prefers the shuffled-hash join; zero the factor to pin the
        # under-cap broadcast branch this test is about.
        monkeypatch.setattr(J, "BROADCAST_COST_FACTOR", 0)
        auto = J.spatial_join(pts, boxes, res=7, distributed=True)
        assert "BroadcastExchange" in _plan(auto)
        monkeypatch.setattr(J, "BROADCAST_MAX_COVER_ROWS", 0)
        shuffled = J.spatial_join(pts, boxes, res=7, distributed=True)
        assert "ShuffledHashJoin" in _plan(shuffled)
        a, b = _pairs(auto), _pairs(shuffled)
        assert a == b and len(a) > 0


class TestDriverCollectGate:
    @pytest.mark.parametrize("cap,value", [("DRIVER_MAX_POLYGONS", 50),
                                           ("DRIVER_MAX_POLY_BYTES", 0)])
    def test_spatial_join_auto_routes_above_cap(self, spark, monkeypatch,
                                                cap, value):
        """Above either cap (the row count after the collect, or the
        optimizer's byte estimate before it) the driver tier must hand
        off to the distributed covering — same rows, no driver-side
        cover."""
        pts, boxes = _pts(spark), _boxes(spark, 300)
        want = _pairs(J.spatial_join(pts, boxes, res=6, distributed=True))
        monkeypatch.setattr(J, cap, value)
        routed = J.spatial_join(pts, boxes, res=6)
        got = _pairs(routed)
        assert got == want and len(got) > 0
        # the driver cover is a createDataFrame -> LocalTableScan; the
        # distributed cover is not
        assert "LocalTableScan" not in _plan(routed).split("\n\n")[0]

    def test_spatial_join_semi_auto_route_matches(self, spark,
                                                  monkeypatch):
        pts, boxes = _pts(spark), _boxes(spark, 120)
        want = {r.pid for r in
                J.spatial_join(pts, boxes, res=6, how="left_semi")
                .collect()}
        monkeypatch.setattr(J, "DRIVER_MAX_POLYGONS", 50)
        got = {r.pid for r in
               J.spatial_join(pts, boxes, res=6, how="left_semi")
               .collect()}
        assert got == want and len(got) > 0

    def test_pip_tile_counts_auto_routes_above_cap(self, spark,
                                                   monkeypatch):
        pts, boxes = _pts(spark), _boxes(spark, 200)
        want = {tuple(r) for r in
                J.pip_tile_counts(pts, boxes, res=6).collect()}
        monkeypatch.setattr(J, "DRIVER_MAX_POLYGONS", 50)
        got = {tuple(r) for r in
               J.pip_tile_counts(pts, boxes, res=6).collect()}
        assert got == want and len(got) > 0


class TestSemiAntiRowIdentity:
    """A user column named like the engine's row id must neither steer
    the semi/anti join nor be dropped from its output."""

    @pytest.mark.parametrize("distributed", [False, True])
    @pytest.mark.parametrize("name", ["_rid", "_RID"])
    def test_user_rid_column_is_passed_through(self, spark, name,
                                               distributed):
        from geospark.sources.synth import zones_df
        zones = zones_df(spark)
        pts = _hot_pts(spark, 2000)
        want = {how: {r.pid for r in J.spatial_join(
                    pts, zones, how=how, distributed=distributed)
                    .collect()}
                for how in ("left_semi", "left_anti")}
        assert want["left_semi"] and want["left_anti"]
        user = pts.withColumn(name, F.lit(0).cast("long"))
        for how in ("left_semi", "left_anti"):
            out = J.spatial_join(user, zones, how=how,
                                 distributed=distributed)
            assert out.columns == user.columns
            rows = out.collect()
            assert {r.pid for r in rows} == want[how]
            assert len(rows) == len(want[how])
            assert all(r[name] == 0 for r in rows)
