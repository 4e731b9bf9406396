"""Reference digests, computed by a path independent of the engine.

DuckDB SQL over the same stored parquet inputs gives the join and
aggregate results; the predicates are the repo's oracle twins (the
ray-cast SQL of ``kernels.ops.point_in_rings_sql`` and the cell SQL of
``functions.cells.cell_encode_sql``), and range joins run as equi-joins
on a whole-degree grid. Geotag extraction runs in plain Python with the
engine's three tag patterns. The codec ops have no SQL form, so their
expected bytes come from the benchmark's own NumPy WKB packer and
NumPy's float formatting. Each function returns ``{op: digest}`` with
digests shaped like ``digest.spark_digest`` returns them.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .digest import np_digest

KNN_K = 3
DIST_RADIUS = 2.0


def _con(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
    return con


def _cols(con, sql: str) -> dict:
    t = con.execute(sql).arrow()
    if hasattr(t, "read_all"):
        t = t.read_all()
    return {n: t.column(n).to_numpy(zero_copy_only=False)
            for n in t.column_names}


def _cells(table: str, cols: str, x0: str, y0: str, x1: str, y1: str
           ) -> str:
    """Rows of ``table`` repeated once per whole-degree cell their box
    [x0, x1] x [y0, y1] touches: a plain grid, unrelated to the
    engine's cell ids, that turns every range join into an equi-join."""
    xs = (f"SELECT *, unnest(range(CAST(floor({x0}) AS BIGINT), "
          f"CAST(floor({x1}) AS BIGINT) + 1)) AS gx FROM "
          f"(SELECT {cols} FROM {table})")
    return (f"SELECT *, unnest(range(CAST(floor({y0}) AS BIGINT), "
            f"CAST(floor({y1}) AS BIGINT) + 1)) AS gy FROM ({xs})")


PTS_CELLS = ("SELECT point_id, lat, lon, CAST(floor(lon) AS BIGINT) AS gx, "
             "CAST(floor(lat) AS BIGINT) AS gy FROM points")
SQ_DIST = "(q_lat - lat) * (q_lat - lat) + (q_lon - lon) * (q_lon - lon)"


def _near_sql(radius: float) -> str:
    """(query, point, squared distance) for points in the query's
    +-radius box."""
    r = radius
    q = _cells("queries", "query_id, q_lat, q_lon", f"q_lon - {r}",
               f"q_lat - {r}", f"q_lon + {r}", f"q_lat + {r}")
    return (f"SELECT query_id, point_id, {SQ_DIST} AS d FROM ({q}) "
            f"JOIN ({PTS_CELLS}) USING (gx, gy) WHERE "
            f"abs(lat - q_lat) <= {r} AND abs(lon - q_lon) <= {r}")


def _knn_sql(radius: float) -> str:
    return (f"SELECT query_id, point_id, rank, d FROM (SELECT *, "
            f"ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d, "
            f"point_id) AS rank FROM ({_near_sql(radius)})) "
            f"WHERE rank <= {KNN_K}")


def knn_rows(con, n_queries: int) -> dict:
    """Exact planar top-k by a widening box: a query's answer is final
    once its k-th distance fits inside the box (anything outside is
    farther than the box half-width)."""
    radius = 1.5
    while True:
        c = _cols(con, _knn_sql(radius))
        kth = {}
        for q, r, d in zip(c["query_id"], c["rank"], c["d"]):
            if r == KNN_K:
                kth[q] = d
        if len(kth) == n_queries and max(kth.values()) <= radius * radius:
            return c
        radius *= 2.0


def pip_join_reference(paths: dict) -> dict:
    from geospark.kernels.ops import point_in_rings_sql
    from geospark.queries import FIXED_ZONES, _zone_rings

    con = _con({k: paths[k] for k in ("points", "boxes", "supp",
                                      "queries")})
    out = {}
    parts = [f"SELECT point_id, CAST({zid} AS BIGINT) AS zone_id FROM "
             f"points WHERE {point_in_rings_sql('lon', 'lat', _zone_rings(w))}"
             for zid, w in FIXED_ZONES]
    out["pip_zones"] = np_digest(_cols(con, " UNION ALL ".join(parts)),
                                 [("point_id", "int"), ("zone_id", "int")])
    boxes = _cells("boxes", "box_id, xmin, ymin, xmax, ymax", "xmin",
                   "ymin", "xmax", "ymax")
    out["pip_boxes"] = np_digest(_cols(con, (
        f"SELECT point_id, box_id FROM ({PTS_CELLS}) JOIN ({boxes}) "
        f"USING (gx, gy) WHERE lon >= xmin AND lon <= xmax AND "
        f"lat >= ymin AND lat <= ymax")),
        [("point_id", "int"), ("box_id", "int")])
    out["poly_join"] = np_digest(_cols(con, (
        "SELECT l.supp_box_id, r.box_id FROM supp l JOIN boxes r ON "
        "l.xmin <= r.xmax AND r.xmin <= l.xmax AND l.ymin <= r.ymax AND "
        "r.ymin <= l.ymax")), [("supp_box_id", "int"), ("box_id", "int")])
    out["distance_join"] = np_digest(_cols(con, (
        f"SELECT query_id, point_id FROM ({_near_sql(DIST_RADIUS)}) "
        f"WHERE d <= {DIST_RADIUS * DIST_RADIUS}")),
        [("query_id", "int"), ("point_id", "int")])
    n_q = con.execute("SELECT count(*) FROM queries").fetchone()[0]
    out["knn"] = np_digest(knn_rows(con, n_q), [
        ("query_id", "int"), ("point_id", "int"), ("rank", "int")])
    return out


TILE_RES = 8
TILES_SPEC = [("cell", "int"), ("zone_id", "int"), ("lang", "str"),
              ("n_docs", "int")]


def geotags(html: list[bytes]) -> dict:
    """(lat, lon, row) of every geotag, by Python's ``re`` with the
    engine's three tag patterns (the engine scans them as one JVM regex
    alternation; tags never overlap, so the multisets agree)."""
    from geospark.operators.extract import RE_DATACOORDS, RE_GEOURI, RE_META
    lat, lon, row = [], [], []
    for i, h in enumerate(html):
        s = h.decode("utf-8", "replace")
        for rx, la, lo in ((RE_META, 1, 2), (RE_GEOURI, 1, 2),
                           (RE_DATACOORDS, 2, 1)):
            for m in rx.finditer(s):
                y, x = float(m.group(la)), float(m.group(lo))
                if -90 <= y <= 90 and -180 <= x <= 180:
                    lat.append(y)
                    lon.append(x)
                    row.append(i)
    return {"lat": np.array(lat), "lon": np.array(lon),
            "row": np.array(row, dtype=np.int64)}


def pages_reference(paths: dict, zones: list[tuple[int, str | None]]
                    ) -> dict:
    from geospark.functions.cells import cell_encode_sql
    from geospark.kernels.geom import parse_wkt
    from geospark.kernels.ops import point_in_rings_sql

    pages = pq.read_table(paths["pages"], columns=["html", "lang"])
    tags = geotags(pages.column("html").to_pylist())
    langs = pages.column("lang").to_numpy(zero_copy_only=False)
    geo = pa.table({"lat": tags["lat"], "lon": tags["lon"],
                    "lang": langs[tags["row"]]})
    con = duckdb.connect()
    con.register("geo", geo)
    parts = []
    for zid, wkt in zones:
        g = None if wkt is None else parse_wkt(wkt)
        if g is None or g.is_empty:
            continue  # EMPTY and null zones contain nothing
        rings = [r[:, :2] for r in g.rings]
        parts.append(f"SELECT lat, lon, lang, CAST({zid} AS BIGINT) AS "
                     f"zone_id FROM geo WHERE "
                     f"{point_in_rings_sql('lon', 'lat', rings)}")
    cell = cell_encode_sql("lat", "lon", TILE_RES)
    tiles = (f"WITH pip AS (" + " UNION ALL ".join(parts)
             + f") SELECT {cell} AS cell, zone_id, lang, COUNT(*) AS "
             f"n_docs FROM pip GROUP BY 1, 2, 3")
    t = np_digest(_cols(con, tiles), TILES_SPEC)
    return {"pipeline_commit": t, "resume": t}


def format_num(v: float) -> str:
    """WKT number rule: integral values without a fraction, everything
    else as the shortest positional repr."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return np.format_float_positional(v, trim="-")


def codec_reference(paths: dict) -> dict:
    from .inputs import point_wkb
    pts = pq.read_table(paths["codec_points"])
    x = pts.column("lon").to_numpy()
    y = pts.column("lat").to_numpy()
    wkb = point_wkb(x, y).to_pylist()
    out = {"point_roundtrip": np_digest(
        {"point_id": pts.column("point_id").to_numpy(), "wkb": wkb},
        [("point_id", "int"), ("wkb", "str")]) + (0,)}
    b = pq.read_table(paths["boxes"])
    xs = [b.column(c).to_numpy() for c in ("xmin", "ymin", "xmax", "ymax")]
    f = [[format_num(v) for v in col] for col in xs]
    wkt = [f"POLYGON (({x0} {y0}, {x1} {y0}, {x1} {y1}, {x0} {y1}, "
           f"{x0} {y0}))" for x0, y0, x1, y1 in zip(*f)]
    side = 2.0 * b.column("half").to_numpy()
    out["polygon_roundtrip"] = np_digest(
        {"box_id": b.column("box_id").to_numpy(),
         "wkb": b.column("geom_wkb").to_pylist(), "area": side * side,
         "wkt": wkt},
        [("box_id", "int"), ("wkb", "str"), ("area", "round"),
         ("wkt", "str")]) + (0,)
    out["schema_infer"] = np_digest(
        {"extension": ["geoarrow.multipoint"], "dims": ["xy"]},
        [("extension", "str"), ("dims", "str")])
    return out
