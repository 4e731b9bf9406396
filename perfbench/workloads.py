"""The two workloads: their inputs, their operations and their checks.

Each operation is one public engine call (``call``) followed by the
action that forces its result (``action``). The action reduces the
result to an order-insensitive digest inside Spark, so forcing the
result and checking it are the same job. ``chain`` names the kernel
metrics whose per-row cost models the Python work the operation does;
the traced run subtracts ``rows x chain`` from Python worker time to
estimate the Arrow/Python boundary cost.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import pyarrow.parquet as pq

from . import inputs, reference
from .digest import spark_digest

TILE_RES = reference.TILE_RES


@dataclass
class Op:
    name: str
    call: Callable[[], Any]
    action: Callable[[Any], tuple]
    chain: tuple[str, ...] = ()
    chain_rows: int = 0


@dataclass
class Workload:
    name: str
    why: str
    prepare: Callable  # (data_dir, seed, size) -> paths
    ops: Callable      # (spark, paths, run) -> list[Op]
    reference: Callable  # (paths) -> {op: digest}
    input_rows: Callable  # (paths) -> rows one pass consumes
    kernel_inputs: Callable  # (paths) -> (x, y, polygon wkbs, rings)
    corpus: bool = False  # run the roundtrip-corpus check once per run


def _rows(path: str) -> int:
    return sum(pq.read_metadata(os.path.join(path, f)).num_rows
               for f in os.listdir(path) if f.endswith(".parquet"))


def _mismatch(a: str, b: str):
    """Rows whose bytes differ (null-safe)."""
    from pyspark.sql import functions as F
    return F.sum(F.when(F.col(a).eqNullSafe(F.col(b)), 0).otherwise(1))


def _kernel_points(path: str, n: int = 65_536):
    import numpy as np
    t = pq.read_table(path, columns=["lat", "lon"])
    reps = -(-n // max(t.num_rows, 1))
    y = np.tile(t.column("lat").to_numpy(), reps)[:n]
    x = np.tile(t.column("lon").to_numpy(), reps)[:n]
    return x, y


def _kernel_inputs(points_key: str):
    """The kernel layer's batch for a workload: 65,536 of its points and
    of its box polygons (cycled), and the rings of the first fixed
    zone."""
    def read(p):
        from geospark.kernels.geom import parse_wkt
        from geospark.queries import FIXED_ZONES
        x, y = _kernel_points(p[points_key])
        polys = pq.read_table(p["boxes"], columns=["geom_wkb"]) \
            .column("geom_wkb").to_pylist()
        polys = [polys[i % len(polys)] for i in range(65_536)]
        rings = [r[:, :2] for r in parse_wkt(FIXED_ZONES[0][1]).rings]
        return x, y, polys, rings
    return read


# ---------------------------------------------------------------------------
# pip_join
# ---------------------------------------------------------------------------

def _pip_prepare(data_dir, seed, size):
    from geospark.queries import FIXED_ZONES
    s = inputs.SIZES[size]
    nf = s["files"]
    return {
        "points": inputs.write_parquet(
            inputs.points_table(s["points"], seed),
            f"{data_dir}/points", nf),
        "zones": inputs.write_parquet(
            inputs.zones_table(FIXED_ZONES), f"{data_dir}/zones", 1),
        "boxes": inputs.write_parquet(
            inputs.part_boxes_table(s["boxes"], seed),
            f"{data_dir}/boxes", nf),
        "supp": inputs.write_parquet(
            inputs.supp_boxes_table(s["supp"], seed), f"{data_dir}/supp", 1),
        "queries": inputs.write_parquet(
            inputs.queries_table(s["queries"], seed),
            f"{data_dir}/queries", 1),
    }


def _pip_ops(spark, p, run) -> list[Op]:
    from geospark.operators.joins import (distance_join, knn_join,
                                          spatial_join,
                                          spatial_join_polygons)

    def pts():
        return spark.read.parquet(p["points"])

    def boxes():
        return spark.read.parquet(p["boxes"]).select("box_id", "geom_wkb")

    def supp():
        return spark.read.parquet(p["supp"]) \
            .select("supp_box_id", "geom_wkb")

    def queries():
        return spark.read.parquet(p["queries"])

    def digest(*spec):
        return lambda df: spark_digest(df, list(spec))

    return [
        Op("pip_zones",
           lambda: spatial_join(pts(), spark.read.parquet(p["zones"]),
                                res=8),
           digest(("point_id", "int"), ("zone_id", "int"))),
        Op("pip_boxes",
           lambda: spatial_join(pts(), boxes(), res=8,
                                poly_id_col="box_id", distributed=True),
           digest(("point_id", "int"), ("box_id", "int"))),
        Op("poly_join",
           lambda: spatial_join_polygons(supp(), boxes(), res=6,
                                         l_id="supp_box_id", r_id="box_id"),
           digest(("supp_box_id", "int"), ("box_id", "int"))),
        Op("distance_join",
           lambda: distance_join(queries(), pts(), reference.DIST_RADIUS,
                                 res=6, l_lat="q_lat", l_lon="q_lon"),
           digest(("query_id", "int"), ("point_id", "int"))),
        Op("knn",
           lambda: knn_join(queries(), pts(), reference.KNN_K, res=8),
           digest(("query_id", "int"), ("point_id", "int"),
                  ("rank", "int"))),
    ]


PIP_JOIN = Workload(
    name="pip_join",
    why=("uniform points joined to polygons five ways: the join layer, "
         "exchanges and eager driver jobs, with no Python nodes"),
    prepare=_pip_prepare, ops=_pip_ops,
    reference=reference.pip_join_reference,
    input_rows=lambda p: _rows(p["points"]),
    kernel_inputs=_kernel_inputs("points"))


# ---------------------------------------------------------------------------
# pages_codec, part 1: the checkpointed pages pipeline
# ---------------------------------------------------------------------------

PAGE_ID_STRIDE = 10_000_000


def _page_zones():
    from geospark.sources.synth import zone_defs
    return [(zid, wkt) for zid, _name, wkt in zone_defs()]


def _pages_prepare(data_dir, seed, size):
    import numpy as np
    import pyarrow as pa

    from geospark.sources.synth import page_batch
    s = inputs.SIZES[size]
    lo = seed * PAGE_ID_STRIDE
    pages = pa.Table.from_pandas(
        page_batch(np.arange(lo, lo + s["pages"], dtype=np.int64)),
        preserve_index=False)
    # Spark reads microsecond instants; pandas produced nanoseconds
    ts = pages.schema.get_field_index("warc_ts")
    pages = pages.set_column(ts, "warc_ts", pages.column("warc_ts").cast(
        pa.timestamp("us", tz="UTC")))
    return {
        "pages": inputs.write_parquet(pages, f"{data_dir}/pages",
                                      s["files"]),
        "page_zones": inputs.write_parquet(
            inputs.zones_table(_page_zones()), f"{data_dir}/page_zones", 1),
        "stores": f"{data_dir}/stores",
    }


def _pages_ops(spark, p, run) -> list[Op]:
    from geospark.operators.extract import extract_pages
    from geospark.operators.joins import spatial_join
    from geospark.operators.tiles import tile_counts
    from geospark.sources.checkpoint import CheckpointStore, Pipeline

    state: dict = {}

    def pipeline(store_dir: str) -> tuple:
        pipe = Pipeline(spark, CheckpointStore(store_dir))
        pages = spark.read.parquet(p["pages"])
        zones = spark.read.parquet(p["page_zones"])
        stages = (
            ("geotags", lambda: extract_pages(pages)),
            ("pip", lambda: spatial_join(state["df"], zones, res=TILE_RES)),
            ("tiles", lambda: tile_counts(state["df"], TILE_RES,
                                          extra_keys=["zone_id", "lang"])),
        )
        for name, fn in stages:
            with run.checkpoint(name):
                state["df"] = pipe.stage(name, fn)
        return state["df"], pipe.report

    def commit():
        state["store"] = f"{p['stores']}/store-{run.pass_no}"
        return pipeline(state["store"])

    def resume():
        return pipeline(state["store"])

    def tiles_digest(want_skipped: bool):
        def action(res):
            tiles, report = res
            if any(r["skipped"] != want_skipped for r in report):
                raise RuntimeError(f"stage skip flags {report}, "
                                   f"expected all {want_skipped}")
            run.checkpoint_report(report)
            return spark_digest(tiles, reference.TILES_SPEC)
        return action

    return [
        Op("pipeline_commit", commit, tiles_digest(False)),
        Op("resume", resume, tiles_digest(True)),
    ]


# ---------------------------------------------------------------------------
# pages_codec, part 2: the GeoArrow codec
# ---------------------------------------------------------------------------

POINT_CHAIN = ("kernels.wkb.points_to_wkb_ns", "kernels.wkb.parse_wkb_ns",
               "kernels.garrow.encode_ns", "kernels.garrow.decode_ns",
               "kernels.wkb.write_wkb_ns")


def _codec_prepare(data_dir, seed, size):
    s = inputs.SIZES[size]
    nf = s["files"]
    return {
        "codec_points": inputs.write_parquet(
            inputs.points_table(s["codec_points"], seed),
            f"{data_dir}/codec_points", nf),
        "boxes": inputs.write_parquet(
            inputs.part_boxes_table(s["boxes"], seed),
            f"{data_dir}/boxes", nf),
        "mixed": inputs.write_parquet(
            inputs.mixed_wkb_table(s["mixed"], seed), f"{data_dir}/mixed",
            nf),
    }


def _codec_ops(spark, p, run) -> list[Op]:
    from pyspark.sql import functions as F

    from geospark.functions.encoding import (from_geoarrow, infer_encoding,
                                             to_geoarrow)
    from geospark.functions.geometry import st_area, st_astext, st_point

    def point_roundtrip():
        df = spark.read.parquet(p["codec_points"]).select(
            "point_id", st_point(F.col("lon"), F.col("lat")).alias("wkb"))
        df = df.withColumn("wkb_in", F.col("wkb"))
        with run.codec("to_geoarrow"):
            ga = to_geoarrow(df, "wkb", "point")
        with run.codec("from_geoarrow"):
            return from_geoarrow(ga, "geom", "point", out_col="wkb")

    def polygon_roundtrip():
        df = spark.read.parquet(p["boxes"]).select("box_id", "geom_wkb") \
            .withColumn("wkb_in", F.col("geom_wkb"))
        with run.codec("to_geoarrow"):
            ga = to_geoarrow(df, "geom_wkb", "polygon")
        with run.codec("from_geoarrow"):
            back = from_geoarrow(ga, "geom", "polygon", out_col="wkb")
        return back.select("box_id", "wkb", "wkb_in",
                           st_area(F.col("wkb")).alias("area"),
                           st_astext(F.col("wkb")).alias("wkt"))

    def schema_infer():
        with run.codec("infer_encoding"):
            return infer_encoding(spark.read.parquet(p["mixed"]), "geom_wkb")

    def infer_digest(res):
        from .digest import np_digest
        ext, dims = res
        return np_digest({"extension": [ext], "dims": [dims]},
                         [("extension", "str"), ("dims", "str")])

    n_pts = _rows(p["codec_points"])
    n_boxes = _rows(p["boxes"])
    return [
        Op("point_roundtrip", point_roundtrip,
           lambda df: spark_digest(df, [("point_id", "int"), ("wkb", "str")],
                                   [_mismatch("wkb", "wkb_in")]),
           chain=POINT_CHAIN, chain_rows=n_pts),
        Op("polygon_roundtrip", polygon_roundtrip,
           lambda df: spark_digest(df, [("box_id", "int"), ("wkb", "str"),
                                        ("area", "round"), ("wkt", "str")],
                                   [_mismatch("wkb", "wkb_in")]),
           chain=("kernels.poly.parse_wkb_ns", "kernels.poly.encode_ns",
                  "kernels.poly.decode_ns", "kernels.poly.write_wkb_ns"),
           chain_rows=n_boxes),
        Op("schema_infer", schema_infer, infer_digest),
    ]


def _pages_codec_prepare(data_dir, seed, size):
    return {**_pages_prepare(data_dir, seed, size),
            **_codec_prepare(data_dir, seed, size)}


def _pages_codec_reference(p):
    return {**reference.pages_reference(p, _page_zones()),
            **reference.codec_reference(p)}


PAGES_CODEC = Workload(
    name="pages_codec",
    why=("checkpointed pages pipeline with hot-city skew and a resume, "
         "then WKB-GeoArrow roundtrips: write path, Python UDF boundary, "
         "codec kernels"),
    prepare=_pages_codec_prepare,
    ops=lambda spark, p, run: (_pages_ops(spark, p, run)
                               + _codec_ops(spark, p, run)),
    reference=_pages_codec_reference,
    input_rows=lambda p: sum(_rows(p[k]) for k in (
        "pages", "codec_points", "boxes", "mixed")),
    kernel_inputs=_kernel_inputs("codec_points"), corpus=True)


WORKLOADS = {w.name: w for w in (PIP_JOIN, PAGES_CODEC)}
