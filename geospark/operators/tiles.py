"""Tiling: raster<->vector per-cell aggregation (SURVEY.md §2.2 tiling).

A "raster" here is a per-cell aggregate table at resolution r (the
discrete grid = raster); "vector tiles" attach the cell's polygon
boundary. Rollup across resolutions is exact integer parent arithmetic
(cells.cell_parent), so multi-resolution pyramids are plain groupBys —
partial aggregation (map-side combine) applies, and no UDF appears in
the plan until the optional boundary materialization.
"""

from __future__ import annotations

from ..functions import cells as _cells
from ..functions.cells import cell_encode, cell_parent
from ..materialize import materialize


def tile_counts(points, res: int, *, lat_col: str = "lat",
                lon_col: str = "lon", extra_keys: list[str] | None = None,
                agg_exprs: dict | None = None):
    """points -> per-cell aggregates at resolution ``res``.
    Default aggregate: n_docs count. extra_keys e.g. ["lang"]."""
    from pyspark.sql import functions as F
    keys = ["cell"] + (extra_keys or [])
    df = points.withColumn("cell", cell_encode(lat_col, lon_col, res))
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for name, expr in (agg_exprs or {}).items():
        aggs.append(expr.alias(name))
    return df.groupBy(*keys).agg(*aggs)


def rollup_tiles(tiles, child_res: int, steps: int = 1,
                 count_col: str = "n_docs",
                 extra_keys: list[str] | None = None):
    """Per-cell table at child_res -> parent resolution. Pure integer
    parent arithmetic + sum: re-aggregation without touching raw data
    (the raster pyramid path)."""
    from pyspark.sql import functions as F
    keys = ["cell"] + (extra_keys or [])
    return (tiles
            .withColumn("cell", cell_parent("cell", child_res, steps))
            .groupBy(*keys)
            .agg(F.sum(count_col).alias(count_col)))


def tile_boundaries(tiles, res: int):
    """Attach the cell polygon (vector tile geometry) as WKT — exact
    inverse arithmetic of cell_encode, pure column expressions."""
    from pyspark.sql import functions as F
    n = 1 << res
    mask = n - 1
    x = F.col("cell").bitwiseAND(F.lit(mask)).cast("double")
    y = F.shiftright(F.col("cell"), res).bitwiseAND(F.lit(mask)) \
        .cast("double")
    lon0 = x / n * 360.0 - 180.0
    lon1 = (x + 1) / n * 360.0 - 180.0
    lat0 = y / n * 180.0 - 90.0
    lat1 = (y + 1) / n * 180.0 - 90.0
    wkt = F.concat(
        F.lit("POLYGON (("),
        lon0.cast("string"), F.lit(" "), lat0.cast("string"), F.lit(", "),
        lon1.cast("string"), F.lit(" "), lat0.cast("string"), F.lit(", "),
        lon1.cast("string"), F.lit(" "), lat1.cast("string"), F.lit(", "),
        lon0.cast("string"), F.lit(" "), lat1.cast("string"), F.lit(", "),
        lon0.cast("string"), F.lit(" "), lat0.cast("string"),
        F.lit("))"))
    return (tiles.withColumn("lon_min", lon0).withColumn("lat_min", lat0)
                 .withColumn("lon_max", lon1).withColumn("lat_max", lat1)
                 .withColumn("boundary_wkt", wkt))


def compact_cells(cells_df, res: int, *, cell_col: str = "cell",
                  min_res: int = 0, max_steps: int | None = None):
    """Minimal covering: iteratively replace every COMPLETE sibling
    quartet (all 4 children of a parent present) by the parent cell —
    the H3 `compactCells` analog. Input: distinct cell ids at
    resolution ``res``; output: distinct cells at mixed resolutions
    covering exactly the same area with the fewest cells (shrinks
    coverings before broadcast/storage).

    Shape per round: one groupBy keyed by parent id + one equi-join —
    both integer-keyed, partial-aggregated; at most ``res - min_res``
    rounds, each over a strictly smaller promoted set (lineage
    truncated via materialize(), like the other iterative operators).
    ``max_steps=1`` is the single-level form the SQL oracle mirrors."""
    from pyspark.sql import functions as F
    out_levels = []
    cur = materialize(
        cells_df.select(F.col(cell_col).alias("cell")).distinct())
    r = res
    steps = 0
    while r > min_res and (max_steps is None or steps < max_steps):
        par = cell_parent("cell", r)
        g = (cur.withColumn("_p", par)
             .groupBy("_p").agg(F.count(F.lit(1)).alias("_c")))
        promoted = materialize(g.filter(F.col("_c") == 4)
                               .select(F.col("_p").alias("cell")))
        kept = (cur.withColumn("_p", par)
                .join(g.filter(F.col("_c") < 4).select("_p"), "_p")
                .select("cell"))
        out_levels.append(materialize(kept))
        n_promoted = promoted.count()
        cur = promoted
        r -= 1
        steps += 1
        if n_promoted == 0:
            break
    out = cur
    for lvl in out_levels:
        out = out.unionByName(lvl)
    return out


def compact_cells_sql(cells_sql: str, res: int) -> str:
    """DuckDB twin of compact_cells(max_steps=1) over ``cells_sql``
    (a SELECT producing a `cell` column of distinct res-``res`` ids)."""
    from ..functions.cells import cell_parent_sql
    p = cell_parent_sql("cell", res)
    return f"""
WITH cells AS (SELECT DISTINCT cell FROM ({cells_sql})),
g AS (SELECT {p} AS p, COUNT(*) AS c FROM cells GROUP BY 1)
SELECT p AS cell FROM g WHERE c = 4
UNION ALL
SELECT cell FROM cells WHERE ({p}) IN (SELECT p FROM g WHERE c < 4)
"""


def distinct_per_cell(points, res: int, distinct_col: str, *,
                      lat_col: str = "lat", lon_col: str = "lon",
                      exact: bool = True, rsd: float = 0.05):
    """Per-cell distinct-count operator (r5, VERDICT r4 Next-round #5 —
    promoted from the inline ``cell_distinct_users`` query).

    ``exact=True`` (the oracle-gated tier): Spark plans
    ``count(distinct)`` as a two-phase Expand + partial aggregate —
    map-side dedup of (cell, value) pairs before the shuffle, so the
    exchange carries distinct pairs, not raw events. Correct at any
    scale but a hot cell's distinct-pair set still crosses the wire.

    ``exact=False``: ``approx_count_distinct`` (HyperLogLog++, relative
    error ``rsd``). Bounded O(1) state per (cell, aggregate) — the
    10^12-row tier: no Expand node in the plan, one ordinary partial
    agg whose shuffle carries fixed-size HLL sketches regardless of
    cardinality. Same output schema (cell, n_distinct, n_rows) so the
    tiers are drop-in swappable.
    """
    from pyspark.sql import functions as F
    d = points.withColumn("cell", cell_encode(lat_col, lon_col, res))
    if exact:
        n = F.countDistinct(distinct_col)
    else:
        n = F.approx_count_distinct(distinct_col, rsd)
    return d.groupBy("cell").agg(n.alias("n_distinct"),
                                 F.count(F.lit(1)).alias("n_rows"))


def top_k_cells(tiles, k: int, count_col: str = "n_docs"):
    """Densest cells, deterministic tiebreak on cell id."""
    from pyspark.sql import functions as F
    return tiles.orderBy(F.col(count_col).desc(), F.col("cell").asc()) \
                .limit(k)


def focal_sum(tiles, res: int, *, cell_col: str = "cell",
              count_col: str = "n_docs", ring: int = 1):
    """Neighborhood (focal) sum over a per-cell aggregate grid — the
    raster-algebra smoothing pass under hotspot detection: each
    occupied cell gets the total count of its Chebyshev ``ring``
    neighborhood (self included). Implemented as SCATTER (each cell
    contributes its count to every neighbor) which equals the gather
    semantics because the ring relation with longitude wrap and
    latitude clamp is symmetric (dx symmetric mod the grid width, dy
    clamp only removes out-of-grid rows on both sides alike).

    Scale: one (2*ring+1)^2-way explode of AGGREGATE rows (|cells|,
    not |points|) -> one cell-keyed map-side-combinable sum -> one
    cell-keyed join back to the input; the agg and the join hash on
    the same key so the exchange is reused. -> tiles columns +
    focal_<count_col>."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    contrib = (cell_neighbors_explode(
        tiles.select(cell_col, count_col), res,
        cell_col=cell_col, ring=ring)
        .groupBy("_neighbor")
        .agg(F.sum(count_col).alias(f"focal_{count_col}"))
        .withColumnRenamed("_neighbor", cell_col))
    return tiles.join(contrib, cell_col, "inner")


def focal_sum_sql(counts_sql: str, res: int, *, ring: int = 1,
                  count_col: str = "n_docs") -> str:
    """DuckDB twin of focal_sum: the same scatter + cell-keyed sum +
    join over a counts subquery (columns cell, ``count_col``)."""
    from ..functions.cells import cell_neighbors_sql
    nb = cell_neighbors_sql("c.cell", res, ring)
    return (
        f"WITH counts AS ({counts_sql}), "
        f"contrib AS (SELECT nb.neighbor AS cell, "
        f"SUM({count_col}) AS focal_{count_col} "
        f"FROM counts c, LATERAL ({nb}) nb GROUP BY 1) "
        f"SELECT counts.*, CAST(contrib.focal_{count_col} AS BIGINT) "
        f"AS focal_{count_col} "
        f"FROM counts JOIN contrib USING (cell)")


def cell_moments(points, res: int, value_int, *,
                 lat_col: str = "lat", lon_col: str = "lon",
                 val_name: str = "v"):
    """Per-cell exact first and second moments of an integer-scaled
    metric: (cell, n, sum_v, sum_v2). Mean and variance derive from
    these downstream (mean = sum_v/n, var = sum_v2/n - mean^2) — the
    sums are BIGINT so the aggregate is accumulation-order independent
    and combines exactly across partitions, unlike a float
    mean/variance pushdown. ``value_int`` is a Column producing a
    nonnegative BIGINT (scale upstream: floor(v * 10^s)).

    Overflow headroom: sum_v2 <= n * max_v^2 — with max_v ~ 10^6 a
    single cell holds ~9·10^6 rows before BIGINT pressure; rescale or
    pre-aggregate for hotter cells.

    Scale: one map-side-combinable cell-keyed agg riding the same
    shuffle as tile_counts. -> (cell, n, sum_{val_name},
    sum_{val_name}2)."""
    from pyspark.sql import functions as F
    d = (points.withColumn("cell", cell_encode(lat_col, lon_col, res))
         .withColumn("_v", value_int))
    return (d.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("_v").alias(f"sum_{val_name}"),
                 F.sum(F.col("_v") * F.col("_v"))
                 .alias(f"sum_{val_name}2")))


def cell_moments_sql(pts_sql: str, res: int, value_sql: str, *,
                     val_name: str = "v") -> str:
    """DuckDB twin of cell_moments over a subquery producing
    (lat, lon, ...) — identical integer sums, cast back to BIGINT
    (DuckDB SUM widens to HUGEINT)."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return (f"SELECT {cell} AS cell, COUNT(*) AS n, "
            f"CAST(SUM(v) AS BIGINT) AS sum_{val_name}, "
            f"CAST(SUM(v * v) AS BIGINT) AS sum_{val_name}2 "
            f"FROM (SELECT lat, lon, {value_sql} AS v "
            f"FROM ({pts_sql})) GROUP BY 1")


def _traverse_crossing(axis: str, n: int):
    """Shared formula strings for one crossing family of the segment
    supercover (identical text in both dialects; u/v are cell-space
    doubles, legs carry _u0/_v0/_u1/_v1).  ``axis`` = 'x' (vertical
    gridlines -> k is the entered cell's x) or 'y' (symmetric).

    Convention (engine-shared, so the hash gate sees one answer):
    cells = endpoint cells of every point, plus the cell entered after
    each gridline crossing strictly inside the leg's span; a crossing
    exactly on a lattice corner counts once per axis."""
    a0, a1, b0, b1 = (("_u0", "_u1", "_v0", "_v1") if axis == "x"
                      else ("_v0", "_v1", "_u0", "_u1"))
    lo = f"CAST(floor(least({a0}, {a1})) AS BIGINT) + 1"
    hi = f"CAST(floor(greatest({a0}, {a1})) AS BIGINT)"
    # entered cell index along the crossing axis: k when moving up
    # (a1 > a0), k-1 when moving down
    ca = f"(CASE WHEN {a1} > {a0} THEN k ELSE k - 1 END)"
    # other coordinate at the crossing instant (same double formula
    # text both engines -> identical IEEE result)
    cb = (f"CAST(floor({b0} + (CAST(k AS DOUBLE) - {a0}) "
          f"/ ({a1} - {a0}) * ({b1} - {b0})) AS BIGINT)")
    return lo, hi, ca, cb


def traverse_cells(points, res: int, *, user_col: str = "user_id",
                   order_cols=("ts", "event_id"),
                   lat_col: str = "lat", lon_col: str = "lon"):
    """Cells visited by each user's trajectory — the exact segment
    supercover (map-matching precursor / coverage analytics): every
    grid cell a leg passes through, not just the cells the sample
    points land in.  Crossing-based: a leg from cell A to cell B
    contributes one cell per gridline it crosses, generated with
    ``sequence`` + ``explode`` — no iteration, no UDF.

    Scale: one user-keyed lag window builds legs; the crossing explode
    is map-side (output rows ~= cells crossed, bounded by leg length
    in cells); one distinct + count agg keyed by user.  Long legs
    (teleporting users) explode proportionally — cap leg length
    upstream if the source has GPS glitches. -> (user, n_cells)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import _RES_SHIFT
    n = 1 << res
    u = (f"least(greatest(({lon_col} + 180.0) / 360.0 * {n}.0, 0.0), "
         f"{n}.0)")
    v = (f"least(greatest(({lat_col} + 90.0) / 180.0 * {n}.0, 0.0), "
         f"{n}.0)")
    pts = points.select(
        F.col(user_col).alias("_user"),
        *[F.col(c) for c in order_cols],
        F.expr(u).alias("_u1"), F.expr(v).alias("_v1"))
    # endpoint cells (covers single-event users and both leg ends)
    end_cells = pts.select(
        "_user",
        F.expr(f"least(CAST(floor(_u1) AS BIGINT), {n - 1})").alias("_cx"),
        F.expr(f"least(CAST(floor(_v1) AS BIGINT), {n - 1})").alias("_cy"))
    w = Window.partitionBy("_user").orderBy(
        *[F.col(c).asc() for c in order_cols])
    legs = (pts
            .withColumn("_u0", F.lag("_u1").over(w))
            .withColumn("_v0", F.lag("_v1").over(w))
            .filter(F.col("_u0").isNotNull()))
    parts = [end_cells]
    for axis in ("x", "y"):
        lo, hi, ca, cb = _traverse_crossing(axis, n)
        ks = (f"CASE WHEN {hi} >= {lo} THEN sequence({lo}, {hi}) "
              f"ELSE array() END")  # Spark sequence DESCENDS when hi<lo
        cross = (legs.select("_user", "_u0", "_v0", "_u1", "_v1",
                             F.explode(F.expr(ks)).alias("k"))
                 .select("_user",
                         F.expr(ca if axis == "x" else cb).alias("_cx"),
                         F.expr(cb if axis == "x" else ca).alias("_cy")))
        parts.append(cross)
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    cell = F.expr(f"shiftleft(CAST({res} AS BIGINT), {_RES_SHIFT}) "
                  f"+ shiftleft(_cy, {res}) + _cx")
    return (allc.select("_user", cell.alias("cell")).distinct()
            .groupBy(F.col("_user").alias(user_col))
            .agg(F.count(F.lit(1)).alias("n_cells")))


def traverse_cells_sql(pts_sql: str, res: int, *,
                       user_col: str = "user_id",
                       order_sql: str = "ts, event_id") -> str:
    """DuckDB twin of traverse_cells over a subquery producing
    (user_id, <order cols>, lat, lon) — same quantization, the same
    _traverse_crossing formula strings, same distinct+count."""
    from ..functions.cells import _RES_SHIFT
    n = 1 << res
    u = f"least(greatest((lon + 180.0) / 360.0 * {n}.0, 0.0), {n}.0)"
    v = f"least(greatest((lat + 90.0) / 180.0 * {n}.0, 0.0), {n}.0)"
    crossings = []
    for axis in ("x", "y"):
        lo, hi, ca, cb = _traverse_crossing(axis, n)
        cx, cy = (ca, cb) if axis == "x" else (cb, ca)
        crossings.append(
            f"SELECT _user, {cx} AS _cx, {cy} AS _cy FROM ("
            f"SELECT _user, _u0, _v0, _u1, _v1, "
            f"unnest(CASE WHEN {hi} >= {lo} "
            f"THEN generate_series({lo}, {hi}) "
            f"ELSE [] END) AS k FROM legs)")
    return f"""
WITH pts AS (SELECT {user_col} AS _user, {order_sql},
             {u} AS _u1, {v} AS _v1 FROM ({pts_sql})),
legs AS (SELECT _user, _u1, _v1,
         LAG(_u1) OVER (PARTITION BY _user ORDER BY {order_sql})
           AS _u0,
         LAG(_v1) OVER (PARTITION BY _user ORDER BY {order_sql})
           AS _v0
         FROM pts
         QUALIFY _u0 IS NOT NULL),
cells AS (
  SELECT _user, least(CAST(floor(_u1) AS BIGINT), {n - 1}) AS _cx,
         least(CAST(floor(_v1) AS BIGINT), {n - 1}) AS _cy FROM pts
  UNION ALL {' UNION ALL '.join(crossings)}
),
dcells AS (SELECT DISTINCT _user,
           (CAST({res} AS BIGINT) << {_RES_SHIFT}) | (_cy << {res}) | _cx
             AS cell FROM cells)
SELECT _user AS {user_col}, COUNT(*) AS n_cells
FROM dcells GROUP BY 1
"""


def _dense_daily_counts(points, res, *, us_col, lat_col, lon_col,
                        day_us):
    """Shared dense-fill prologue for the calendar-window operators:
    (cell, day) counts gap-filled onto the full [lo, hi] day span.
    Returns (filled_df, lo, hi); lo/hi are None on EMPTY input, with
    filled_df an empty frame of the right schema (callers must not
    crash on a fully-filtered source)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    d = points.select(
        cell_encode(lat_col, lon_col, res).alias("cell"),
        F.expr(f"{us_col} div {day_us}").alias("day"))
    counts = d.groupBy("cell", "day").agg(F.count(F.lit(1)).alias("_n"))
    span = counts.agg(F.min("day").alias("lo"),
                      F.max("day").alias("hi")).collect()[0]
    if span["lo"] is None:
        empty = counts.select(
            "cell", "day",
            F.col("_n").cast("long").alias("n_events")).limit(0)
        return empty, None, None
    lo, hi = int(span["lo"]), int(span["hi"])
    dense = (counts.select("cell").distinct()
             .select("cell", F.explode(
                 F.expr(f"sequence({lo}L, {hi}L)")).alias("day")))
    filled = (dense.join(counts, ["cell", "day"], "left")
              .select("cell", "day",
                      F.coalesce("_n", F.lit(0)).cast("long")
                      .alias("n_events")))
    return filled, lo, hi


def _dense_daily_counts_sql(pts_sql: str, res: int,
                            day_us: int) -> str:
    """The SQL twin of _dense_daily_counts as a WITH-clause prefix
    defining `span(lo, hi)` and `filled(cell, day, n_events)`."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return f"""d AS (SELECT {cell} AS cell, us // {day_us} AS day
           FROM ({pts_sql})),
counts AS (SELECT cell, day, COUNT(*) AS n FROM d GROUP BY 1, 2),
span AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM counts),
dense AS (SELECT cell, unnest(generate_series(lo, hi)) AS day
          FROM (SELECT DISTINCT cell FROM counts), span),
filled AS (SELECT dense.cell, dense.day,
           CAST(COALESCE(counts.n, 0) AS BIGINT) AS n_events
           FROM dense LEFT JOIN counts USING (cell, day))"""


def cell_rolling_counts(points, res: int, *, us_col: str = "us",
                        lat_col: str = "lat", lon_col: str = "lon",
                        window_days: int = 7,
                        day_us: int = 86_400_000_000):
    """Per-cell daily event counts on a GAP-FILLED calendar plus a
    trailing ``window_days`` rolling sum — the hypertable dashboard
    shape (a sparse rollup silently skips zero days, which makes a
    rows-window rolling sum WRONG; densify first, then window).

    Scale: the dense frame is cells x days — explicit, bounded
    densification (one sequence-explode per distinct cell, days from
    one scalar agg action); the rolling window partitions by cell with
    a bounded rows frame, riding the same cell-keyed exchange as the
    fill join. -> (cell, day, n_events, n_<w>d)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    filled, _lo, _hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    w = (Window.partitionBy("cell").orderBy("day")
         .rowsBetween(-(window_days - 1), 0))
    return filled.withColumn(f"n_{window_days}d",
                             F.sum("n_events").over(w))


def cell_rolling_counts_sql(pts_sql: str, res: int, *,
                            window_days: int = 7,
                            day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_rolling_counts over a subquery producing
    (lat, lon, us)."""
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)}
SELECT cell, day, n_events,
       CAST(SUM(n_events) OVER (PARTITION BY cell ORDER BY day
            ROWS BETWEEN {window_days - 1} PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_{window_days}d
FROM filled
"""


def cell_anomalies(points, res: int, *, us_col: str = "us",
                   lat_col: str = "lat", lon_col: str = "lon",
                   window_days: int = 7, k: int = 3,
                   day_us: int = 86_400_000_000):
    """Spatio-temporal spike detection: per (cell, day), flag days
    whose event count exceeds the trailing ``window_days``-day
    baseline by more than ``k`` standard deviations — the emerging-
    hotspot / traffic-burst monitor over the tile stream.

    INTEGER-EXACT z-score: with x = today's count, s/q = the
    baseline's sum / sum of squares over exactly n = window_days dense
    days (gap-filled like cell_rolling_counts — a sparse rollup would
    silently shrink the baseline), z > k iff

        n*x > s  AND  (n*x - s)^2 > k^2 * (n*q - s^2)

    (multiply z = (x - s/n) / sqrt((n*q - s^2)/n^2) through by n and
    square) — every quantity BIGINT, so the flag is bit-identical
    cross-engine where a float mean/stddev pipeline could flip on the
    last ulp right at the threshold. A zero-variance baseline flags
    ANY exceedance (z is infinite there). Overflow headroom: n*q ~
    n^2 * C^2 for per-(cell, day) counts C — safe below C ~ 10^8 at
    n = 7, far above any real tile-day.

    Output only days with a FULL baseline window (day >= lo + n).
    Scale shape: one (cell, day) count agg, bounded densification,
    two window sums riding ONE cell-keyed exchange — no self-join,
    no float aggregation. -> (cell, day, n_events, base_sum,
    base_sumsq, is_spike)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    filled, lo, _hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    n = window_days
    if lo is None:   # empty input: empty output, full schema
        return filled.select(
            "cell", "day", "n_events",
            F.lit(None).cast("long").alias("base_sum"),
            F.lit(None).cast("long").alias("base_sumsq"),
            F.lit(None).cast("boolean").alias("is_spike"))
    w = (Window.partitionBy("cell").orderBy("day")
         .rowsBetween(-n, -1))
    base = (filled
            .withColumn("base_sum", F.sum("n_events").over(w))
            .withColumn("base_sumsq",
                        F.sum(F.col("n_events") * F.col("n_events"))
                        .over(w))
            .filter(F.col("day") >= F.lit(lo + n)))
    dev = F.lit(n) * F.col("n_events") - F.col("base_sum")
    var_n2 = (F.lit(n) * F.col("base_sumsq")
              - F.col("base_sum") * F.col("base_sum"))
    return base.select(
        "cell", "day", "n_events", "base_sum", "base_sumsq",
        ((dev > 0) & (dev * dev > F.lit(k * k) * var_n2))
        .alias("is_spike"))


def cell_anomalies_sql(pts_sql: str, res: int, *,
                       window_days: int = 7, k: int = 3,
                       day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_anomalies — same dense fill, same bounded
    frames, same all-BIGINT threshold algebra."""
    n = window_days
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
base AS (SELECT cell, day, n_events,
         CAST(SUM(n_events) OVER w AS BIGINT) AS base_sum,
         CAST(SUM(n_events * n_events) OVER w AS BIGINT)
           AS base_sumsq
         FROM filled
         WINDOW w AS (PARTITION BY cell ORDER BY day
                      ROWS BETWEEN {n} PRECEDING AND 1 PRECEDING))
SELECT cell, day, n_events, base_sum, base_sumsq,
       ({n} * n_events - base_sum > 0 AND
        ({n} * n_events - base_sum) * ({n} * n_events - base_sum)
          > {k * k} * ({n} * base_sumsq - base_sum * base_sum))
         AS is_spike
FROM base, span WHERE day >= lo + {n}
"""


# ---------------------------------------------------------------------------
# adaptive tiling: quadtree refinement of hot cells
# ---------------------------------------------------------------------------

def adaptive_tiles(points, coarse_res: int, fine_res: int, cap: int, *,
                   lat_col: str = "lat", lon_col: str = "lon"):
    """Variable-resolution tiling: coarse cells whose count exceeds
    ``cap`` are replaced by their ``fine_res`` children — the quadtree
    answer to web-geo skew (a uniform grid either starves rural cells
    or melts urban ones). -> (cell, res, n_pts).

    Plan shape: ONE scan of the points, aggregated once at the FINE
    grain; the coarse layer is a rollup of the fine aggregates
    (integer parent bit-math + SUM — never a second scan). The
    hot-cell set is aggregate-sized, so the fine-row semi-join against
    it broadcasts. Cells are refined one level set at a time; the
    same operator composes for deeper pyramids (coarse->mid->fine).

    Inverse of cell_compact (tiles.py): compact merges cold sibling
    runs upward, adaptive_tiles splits hot parents downward."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_parent
    from ..materialize import materialize
    fine = tile_counts(points, fine_res,
                       lat_col=lat_col, lon_col=lon_col) \
        .withColumnRenamed("n_docs", "n_pts")
    steps = fine_res - coarse_res
    # materialize the aggregate layers: the keep/hot/split branches
    # all reuse them, and without truncation each branch re-scans the
    # raw points (4 scans observed in the naive plan)
    fine = materialize(fine.withColumn(
        "_parent", cell_parent("cell", fine_res, steps)))
    coarse = materialize(
        fine.groupBy(F.col("_parent").alias("cell"))
        .agg(F.sum("n_pts").alias("n_pts")))
    hot = coarse.filter(F.col("n_pts") > cap).select("cell")
    keep = (coarse.join(F.broadcast(hot), "cell", "left_anti")
            .select("cell", F.lit(coarse_res).cast("int").alias("res"),
                    "n_pts"))
    split = (fine.join(F.broadcast(hot.withColumnRenamed(
                "cell", "_parent")), "_parent")
             .select("cell", F.lit(fine_res).cast("int").alias("res"),
                     "n_pts"))
    return keep.unionByName(split)


def adaptive_tiles_sql(pts_cte: str, coarse_res: int, fine_res: int,
                       cap: int) -> str:
    """DuckDB twin of adaptive_tiles over a (lat, lon) subquery."""
    from ..functions.cells import cell_encode_sql, cell_parent_sql
    fine_cell = cell_encode_sql("lat", "lon", fine_res)
    parent = cell_parent_sql("cell", fine_res, fine_res - coarse_res)
    return f"""
WITH fine AS (
  SELECT {fine_cell} AS cell, COUNT(*) AS n_pts
  FROM ({pts_cte}) GROUP BY 1),
withp AS (SELECT cell, n_pts, {parent} AS parent FROM fine),
coarse AS (SELECT parent AS cell, CAST(SUM(n_pts) AS BIGINT) AS n_pts
           FROM withp GROUP BY 1),
hot AS (SELECT cell FROM coarse WHERE n_pts > {cap})
SELECT cell, CAST({coarse_res} AS INTEGER) AS res, n_pts
FROM coarse WHERE cell NOT IN (SELECT cell FROM hot)
UNION ALL
SELECT w.cell, CAST({fine_res} AS INTEGER) AS res, w.n_pts
FROM withp w JOIN hot h ON w.parent = h.cell
"""


def cell_downsample(points, res: int, cap: int, *,
                    id_col: str = "id", lat_col: str = "lat",
                    lon_col: str = "lon"):
    """Spatial density cap — the training-data curation step that
    stops dense metros from dominating a geo corpus: keep at most
    ``cap`` rows per cell at ``res``, chosen by md5(id) order (a
    deterministic uniform sample — every row has the same keep
    probability within its cell, and reruns keep the SAME rows, so
    downstream dedup/splits stay stable). Ties on the digest break on
    the id itself.

    Scale shape: ONE cell-keyed window. A hot cell sorts its own rows
    only; at 10^12 rows pre-prune first — because the order key is a
    uniform digest, rows with md5(id) above ~(cap/cell_count)-scaled
    thresholds can be dropped by a broadcast-joined per-cell bound
    before the window sort without changing the kept set (documented,
    not plumbed: the threshold join is only worth it past ~10^6 rows
    per hot cell). -> input columns + cell, filtered.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    d = points.withColumn(
        "cell", cell_encode(lat_col, lon_col, res))
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col))
    return (d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= cap).drop("_rn"))


def cell_downsample_sql(pts_sql: str, res: int, cap: int, *,
                        id_sql: str = "id") -> str:
    """DuckDB twin of cell_downsample over a subquery producing
    (id, lat, lon) — projects (id, cell) for the kept rows."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return f"""
WITH d AS (SELECT {id_sql} AS id, {cell} AS cell FROM ({pts_sql})),
r AS (SELECT id, cell,
      ROW_NUMBER() OVER (PARTITION BY cell
                         ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
      FROM d)
SELECT id, cell FROM r WHERE rn <= {cap}
"""


def cell_quota_sample(points, res: int, budget: int, *,
                      id_col: str = "id", lat_col: str = "lat",
                      lon_col: str = "lon"):
    """EXACT-size spatial sample: keep exactly ``budget`` rows total,
    apportioned across occupied cells proportional to their counts by
    largest-remainder (pack.apportion_budget — SUM(quota) == budget
    exactly, all BIGINT floor; probabilistic per-row sampling misses
    the target by O(sqrt(n)) and drifts per engine), each cell's
    quota filled in md5(id) order (cell_downsample's deterministic
    uniform keep). The curation shape for "sample exactly N docs,
    geography-faithful".

    Requires ``budget <= total rows``: then every floor quota is
    strictly below its cell's count for budget < total (and the +1
    remainder bump cannot exceed it), so availability never truncates
    and the output size is exactly ``budget``. Scale shape: one
    cell-count shuffle, two scalar aggregate actions inside
    apportion_budget (metadata, not data), a broadcast join of the
    aggregate-sized quota table, ONE cell-keyed window.
    -> (id, cell)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    from .pack import apportion_budget
    d = points.select(F.col(id_col).alias("id"),
                      cell_encode(lat_col, lon_col, res).alias("cell"))
    cells = d.groupBy("cell").agg(F.count(F.lit(1)).alias("weight"))
    quota = apportion_budget(cells, "weight", "cell", budget)
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("id").cast("string")), F.col("id"))
    return (d.join(F.broadcast(quota.select("cell", "alloc")), "cell")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= F.col("alloc"))
            .select("id", "cell"))


def cell_quota_sample_sql(pts_sql: str, res: int, budget: int, *,
                          id_sql: str = "id") -> str:
    """DuckDB twin of cell_quota_sample over a subquery producing
    (id, lat, lon) — composes apportion_budget_sql's quota query with
    the md5 keep-order."""
    from ..functions.cells import cell_encode_sql
    from .pack import apportion_budget_sql
    cell = cell_encode_sql("lat", "lon", res)
    quota = apportion_budget_sql(
        f"SELECT cell, COUNT(*) AS weight FROM "
        f"(SELECT {cell} AS cell FROM ({pts_sql})) GROUP BY 1",
        budget, key_col="cell", weight_col="weight")
    return f"""
WITH d AS (SELECT {id_sql} AS id, {cell} AS cell FROM ({pts_sql})),
quota AS ({quota}),
r AS (SELECT d.id, d.cell, quota.alloc,
      ROW_NUMBER() OVER (PARTITION BY d.cell
                         ORDER BY md5(CAST(d.id AS VARCHAR)), d.id)
        AS rn
      FROM d JOIN quota USING (cell))
SELECT id, cell FROM r WHERE rn <= alloc
"""


def cell_trend(points, res: int, *, us_col: str = "us",
               lat_col: str = "lat", lon_col: str = "lon",
               day_us: int = 86_400_000_000):
    """Per-cell growth trend — the ordinary-least-squares slope of
    each cell's DAILY event count over the observed span, in events/
    day scaled to ppm: the "which tiles are heating up / cooling
    down" dashboard query. Rides the dense calendar (zero-arrival
    days must pull the slope DOWN, so the gap-fill is load-bearing —
    cell_rolling's lesson), and because the dense span is identical
    for every cell the regression denominator n*Sxx - Sx^2 is one
    shared positive constant.

    Integer-exact: with x = day - lo and y = n_events, slope_ppm =
    trunc(1e6 * (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)) — all-BIGINT sums,
    and the final division is TRUNCATION TOWARD ZERO on a possibly
    negative numerator (Spark's `div`); the DuckDB twin replicates
    truncation explicitly via sign decomposition because `//` floors
    negatives (-7//2 = -4 vs -7 div 2 = -3). Headroom: 1e6·|num| ≲
    9.2e18 with |num| ≤ m^2·max_daily (m = span days) — at m = 3650
    and 1e8 events/day pre-scale y.

    Spans shorter than 2 days have no slope: returns an empty frame
    (den would be 0). One (cell, day) count shuffle + one cell-keyed
    agg over the dense rows. -> (cell, n_total, slope_ppm)."""
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None or hi == lo:
        return (filled.groupBy("cell")
                .agg(F.sum("n_events").alias("n_total"),
                     F.lit(0).cast("long").alias("slope_ppm"))
                .limit(0))
    x = F.col("day") - F.lit(lo)
    g = (filled.groupBy("cell")
         .agg(F.count(F.lit(1)).alias("_n"),
              F.sum(x).alias("_sx"),
              F.sum(x * x).alias("_sxx"),
              F.sum("n_events").alias("n_total"),
              F.sum(x * F.col("n_events")).alias("_sxy")))
    return g.select(
        "cell", "n_total",
        F.expr("(1000000 * (_n * _sxy - _sx * n_total)) div "
               "(_n * _sxx - _sx * _sx)").alias("slope_ppm"))


def cell_trend_sql(pts_sql: str, res: int, *,
                   day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_trend over a subquery producing
    (lat, lon, us) — same dense prologue; the signed division
    truncates toward zero via sign decomposition to match Spark's
    `div` (DuckDB's // floors negatives)."""
    num = "(1000000 * (n * sxy - sx * n_total))"
    den = "(n * sxx - sx * sx)"
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
g AS (SELECT cell, COUNT(*) AS n,
      CAST(SUM(day - lo) AS BIGINT) AS sx,
      CAST(SUM((day - lo) * (day - lo)) AS BIGINT) AS sxx,
      CAST(SUM(n_events) AS BIGINT) AS n_total,
      CAST(SUM((day - lo) * n_events) AS BIGINT) AS sxy
      FROM filled, span GROUP BY cell
      HAVING MAX(day) > MIN(day))
SELECT cell, n_total,
       CAST(CASE WHEN {num} >= 0 THEN {num} // {den}
            ELSE -((-{num}) // {den}) END AS BIGINT) AS slope_ppm
FROM g
"""


def cell_smooth(points, res: int, rounds: int, *,
                lat_col: str = "lat", lon_col: str = "lon"):
    """Iterated focal smoothing over the OCCUPIED raster — the
    heatmap/KDE-lite step before rendering or hotspot thresholds:
    each round replaces every occupied cell's value with the FLOOR
    mean of its ring-1 neighborhood restricted to occupied cells
    (unoccupied cells are not support: they neither receive nor
    contribute, the grid_reach obstacle convention, so coastlines and
    coverage holes don't bleed mass — and floor division keeps every
    round integer-exact, no per-engine float kernel). Initial value =
    the cell's point count.

    Scale shape: the ONE point-level shuffle is the initial count;
    every round is a 9x explode of the aggregate-sized raster, an
    occupied equi-join, and one target-keyed SUM/COUNT agg —
    per-round materialize() (the CC/grid_reach lesson).
    -> (cell, value) after ``rounds`` rounds (rounds=0 = raw counts).
    """
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode, cell_neighbors_explode
    from ..materialize import materialize
    cur = (points
           .select(cell_encode(lat_col, lon_col, res).alias("cell"))
           .groupBy("cell").agg(F.count(F.lit(1)).alias("value")))
    cur = materialize(cur)
    occ = cur.select("cell")
    for _ in range(rounds):
        contrib = (cell_neighbors_explode(cur, res, ring=1)
                   .select(F.col("_neighbor").alias("cell"), "value"))
        nxt = (contrib.join(occ, "cell")
               .groupBy("cell")
               .agg(F.expr("sum(value) div count(value)")
                    .alias("value")))
        cur = materialize(nxt)
    return cur


def cell_smooth_sql(pts_sql: str, res: int, rounds: int) -> str:
    """DuckDB twin of cell_smooth — rounds UNROLLED textually
    (v0 -> v1 -> ... -> v{rounds}, kmeans_cells' convention);
    neighbor arithmetic matches cell_neighbors_sql (x wraps mod
    2^res, y clamps via range filter)."""
    from ..functions.cells import cell_encode_sql
    n = 1 << res
    mask = n - 1
    cell = cell_encode_sql("lat", "lon", res)
    ax, bx = f"(a.cell & {mask})", f"(b.cell & {mask})"
    ay, by = (f"((a.cell >> {res}) & {mask})",
              f"((b.cell >> {res}) & {mask})")
    adj = (f"abs({ay} - {by}) <= 1 AND "
           f"least(abs({ax} - {bx}), {n} - abs({ax} - {bx})) <= 1")
    parts = [f"""
WITH v0 AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS value
  FROM (SELECT {cell} AS cell FROM ({pts_sql})) GROUP BY 1)"""]
    for i in range(rounds):
        parts.append(f"""
v{i + 1} AS (
  SELECT b.cell, CAST(SUM(a.value) // COUNT(*) AS BIGINT) AS value
  FROM v{i} a JOIN v0 b ON {adj}
  GROUP BY b.cell)""")
    return (",".join(parts)
            + f"\nSELECT cell, value FROM v{rounds}\n")


def cell_diversity(points, res: int, *, label_col: str,
                   lat_col: str = "lat", lon_col: str = "lon"):
    """Per-cell Simpson diversity — "how mixed is this tile":
    ``1e6 - (1e6 * sum(n_i*(n_i-1))) div (N*(N-1))`` ppm, the
    probability two draws without replacement differ in label. The
    integer-exact diversity metric (Shannon entropy needs a log;
    Simpson is pure BIGINT counts — headroom: 1e6·N² ≲ 9.2e18 → up
    to ~3e6 events per cell before pre-scaling counts). A
    single-label cell scores 0, a perfectly mixed one approaches
    1e6; single-event cells (N = 1, the pair probability is
    undefined) are dropped.

    Scale shape: one (cell, label) count shuffle, one cell-keyed agg
    over the aggregate rows; both map-side combinable.
    -> (cell, n_pts, n_labels, simpson_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    per = (points.select(
        cell_encode(lat_col, lon_col, res).alias("cell"),
        F.col(label_col).alias("_lbl"))
        .groupBy("cell", "_lbl").agg(F.count(F.lit(1)).alias("_n")))
    g = (per.groupBy("cell")
         .agg(F.sum("_n").alias("n_pts"),
              F.count(F.lit(1)).alias("n_labels"),
              F.sum(F.expr("_n * (_n - 1)")).alias("_s")))
    return (g.filter(F.col("n_pts") >= 2)
            .select("cell", "n_pts", "n_labels",
                    F.expr("1000000 - (1000000 * _s) div "
                           "(n_pts * (n_pts - 1))")
                    .alias("simpson_ppm")))


def cell_diversity_sql(pts_sql: str, res: int, *,
                       label_sql: str = "label") -> str:
    """DuckDB twin of cell_diversity over a subquery producing
    (lat, lon, <label_sql>) — HUGEINT sums cast back to BIGINT."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return f"""
WITH per AS (
  SELECT {cell} AS cell, {label_sql} AS lbl, COUNT(*) AS n
  FROM ({pts_sql}) GROUP BY 1, 2),
g AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_pts,
      COUNT(*) AS n_labels,
      CAST(SUM(n * (n - 1)) AS BIGINT) AS s
      FROM per GROUP BY 1)
SELECT cell, n_pts, n_labels,
       1000000 - (1000000 * s) // (n_pts * (n_pts - 1))
         AS simpson_ppm
FROM g WHERE n_pts >= 2
"""


def moran_i(points, res: int, *, lat_col: str = "lat",
            lon_col: str = "lon"):
    """Global Moran's I over the per-cell count raster — "is the
    density surface spatially CLUSTERED, random, or dispersed", the
    canonical spatial-autocorrelation statistic (binary queen
    contiguity on OCCUPIED cells: ring-1 neighbors under the grid's
    longitude-wrap / latitude-clamp convention, self excluded).
    I = (N/W) * sum_ij w_ij (x_i-xbar)(x_j-xbar) / sum_i (x_i-xbar)^2;
    +1 = hot tiles border hot tiles, ~0 = random, -1 = checkerboard.

    Integer-exact: with dev_i = N*x_i - T (T = total count) the N^2
    factors cancel, so moran_ppm = trunc(1e6 * N * S / (W * M2)) with
    S = sum over ordered neighbor pairs of dev_i*dev_j and
    M2 = sum dev_i^2 — dev is BIGINT (headroom N*max_count < 9.2e18),
    the products and sums run in DECIMAL(38,0) (DuckDB: HUGEINT), and
    the final division is Spark's decimal `div` = truncation toward
    zero, replicated in the twin by sign decomposition over HUGEINT
    floor division. W and S count BOTH orders of each pair (the
    standard symmetric-weight accounting; the ratio is identical to
    the once-per-pair convention). NULL moran_ppm when W = 0 (no two
    occupied cells adjacent) or M2 = 0 (a constant surface has no
    autocorrelation to measure).

    Scale: one point-level cell count (map-side combinable), then
    everything runs on AGGREGATE rows — a broadcast of the 1-row
    (N, T) stats, a 9-way ring explode of |cells| rows, one
    cell-keyed join, two scalar aggs. The point scan is the only
    full-data pass. -> one row (n_cells, w_pairs, moran_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    counts = tile_counts(points, res, lat_col=lat_col, lon_col=lon_col)
    stats = counts.agg(F.count(F.lit(1)).alias("_nc"),
                       F.sum("n_docs").alias("_t"))
    d = (counts.crossJoin(F.broadcast(stats))
         .select("cell",
                 (F.col("_nc") * F.col("n_docs") - F.col("_t"))
                 .alias("_dev"), "_nc"))
    right = d.select(F.col("cell").alias("_neighbor"),
                     F.col("_dev").alias("_dev_j"))
    pairs = (cell_neighbors_explode(d.select("cell", "_dev"), res,
                                    ring=1)
             .filter(F.col("_neighbor") != F.col("cell"))
             .join(right, "_neighbor", "inner"))
    pr = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.sum(F.col("_dev").cast("decimal(38,0)")
              * F.col("_dev_j").cast("decimal(38,0)")).alias("_s"))
    m = d.agg(F.max("_nc").alias("n_cells"),
              F.sum(F.col("_dev").cast("decimal(38,0)")
                    * F.col("_dev").cast("decimal(38,0)"))
              .alias("_m2"))
    return (m.crossJoin(pr)
            .select(F.col("n_cells").cast("long").alias("n_cells"),
                    F.col("w_pairs").cast("long").alias("w_pairs"),
                    F.expr("CASE WHEN w_pairs = 0 OR _m2 = 0 "
                           "THEN CAST(NULL AS BIGINT) ELSE "
                           "(CAST(n_cells AS DECIMAL(38,0)) * _s "
                           "* 1000000) div (CAST(w_pairs AS "
                           "DECIMAL(38,0)) * _m2) END")
                    .alias("moran_ppm")))


def moran_i_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of moran_i over a subquery producing (lat, lon) —
    HUGEINT products, floor-division sign decomposition to match
    Spark's truncation toward zero."""
    from ..functions.cells import cell_encode_sql, cell_neighbors_sql
    cell = cell_encode_sql("lat", "lon", res)
    nb = cell_neighbors_sql("a.cell", res, 1)
    num = "(st.nc * pr.s * 1000000)"
    den = "(pr.w * m.m2)"
    return f"""
WITH counts AS (SELECT {cell} AS cell, COUNT(*) AS n
                FROM ({pts_sql}) GROUP BY 1),
st AS (SELECT COUNT(*) AS nc, CAST(SUM(n) AS BIGINT) AS t
       FROM counts),
d AS (SELECT cell, CAST(st.nc * counts.n - st.t AS BIGINT) AS dev
      FROM counts, st),
pr AS (SELECT COUNT(b.cell) AS w,
       COALESCE(SUM(CAST(a.dev AS HUGEINT) * b.dev), 0) AS s
       FROM d a, LATERAL ({nb}) nb, d b
       WHERE nb.neighbor = b.cell AND nb.neighbor <> a.cell),
m AS (SELECT CAST(SUM(CAST(dev AS HUGEINT) * dev) AS HUGEINT) AS m2
      FROM d)
SELECT CAST(st.nc AS BIGINT) AS n_cells,
       CAST(pr.w AS BIGINT) AS w_pairs,
       CAST(CASE WHEN pr.w = 0 OR m.m2 = 0 THEN NULL
            WHEN {num} >= 0 THEN {num} // {den}
            ELSE -((-{num}) // {den}) END AS BIGINT) AS moran_ppm
FROM st, pr, m
"""


def lisa_cells(points, res: int, *, lat_col: str = "lat",
               lon_col: str = "lon"):
    """Local Moran's I (LISA) per occupied cell — WHERE the global
    moran_i's signal lives: I_i = N * dev_i * L_i / M2 with dev_i =
    N*x_i - T (moran_i's scaled deviation, same N^2 cancellation),
    L_i = the sum of dev_j over i's occupied ring-1 neighbors, and
    M2 = sum dev^2; quadrant labels the classic cluster taxonomy
    (HH hot-in-hot-neighborhood, LL cold core, HL/LH the spatial
    outliers; NULL when dev_i or L_i is exactly 0 — no sign to
    classify). The identity sum_i I_i = W * I_global ties the map to
    the statistic (pinned by test, modulo per-cell truncation).
    Cells with NO occupied neighbor have no spatial lag and are
    dropped (standard practice); a constant surface (M2 = 0) -> NULL
    lisa_ppm. Products in DECIMAL(38,0) (HUGEINT twin), truncating
    decimal `div`, like moran_i.

    Scale: identical shape to moran_i — one point-level count, then
    aggregate-row algebra (9-way ring explode, one cell-keyed join,
    one cell agg). -> (cell, n_pts, quadrant, lisa_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    counts = tile_counts(points, res, lat_col=lat_col, lon_col=lon_col)
    stats = counts.agg(F.count(F.lit(1)).alias("_nc"),
                       F.sum("n_docs").alias("_t"))
    d = (counts.crossJoin(F.broadcast(stats))
         .select("cell", F.col("n_docs").alias("n_pts"),
                 (F.col("_nc") * F.col("n_docs") - F.col("_t"))
                 .alias("_dev"), "_nc"))
    right = d.select(F.col("cell").alias("_neighbor"),
                     F.col("_dev").alias("_dev_j"))
    lag = (cell_neighbors_explode(d.select("cell", "_dev"), res,
                                  ring=1)
           .filter(F.col("_neighbor") != F.col("cell"))
           .join(right, "_neighbor", "inner")
           .groupBy("cell").agg(F.sum("_dev_j").alias("_lag")))
    m2 = d.agg(F.sum(F.col("_dev").cast("decimal(38,0)")
                     * F.col("_dev").cast("decimal(38,0)"))
               .alias("_m2"))
    return (d.join(lag, "cell", "inner")
            .crossJoin(F.broadcast(m2))
            .select("cell", "n_pts",
                    F.expr("CASE WHEN _dev = 0 OR _lag = 0 THEN "
                           "CAST(NULL AS STRING) "
                           "WHEN _dev > 0 AND _lag > 0 THEN 'HH' "
                           "WHEN _dev < 0 AND _lag < 0 THEN 'LL' "
                           "WHEN _dev > 0 THEN 'HL' ELSE 'LH' END")
                    .alias("quadrant"),
                    F.expr("CASE WHEN _m2 = 0 THEN "
                           "CAST(NULL AS BIGINT) ELSE "
                           "(CAST(_nc AS DECIMAL(38,0)) "
                           "* _dev * _lag * 1000000) div _m2 END")
                    .alias("lisa_ppm")))


def lisa_cells_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of lisa_cells over a subquery producing
    (lat, lon) — HUGEINT products, sign-decomposed floor division to
    match Spark's truncation toward zero."""
    from ..functions.cells import cell_encode_sql, cell_neighbors_sql
    cell = cell_encode_sql("lat", "lon", res)
    nb = cell_neighbors_sql("a.cell", res, 1)
    num = "(st.nc * CAST(d.dev AS HUGEINT) * lag.lag * 1000000)"
    den = "m.m2"
    return f"""
WITH counts AS (SELECT {cell} AS cell, COUNT(*) AS n
                FROM ({pts_sql}) GROUP BY 1),
st AS (SELECT COUNT(*) AS nc, CAST(SUM(n) AS BIGINT) AS t
       FROM counts),
d AS (SELECT cell, n, CAST(st.nc * counts.n - st.t AS BIGINT) AS dev
      FROM counts, st),
lag AS (SELECT a.cell, CAST(SUM(b.dev) AS BIGINT) AS lag
        FROM d a, LATERAL ({nb}) nb, d b
        WHERE nb.neighbor = b.cell AND nb.neighbor <> a.cell
        GROUP BY 1),
m AS (SELECT CAST(SUM(CAST(dev AS HUGEINT) * dev) AS HUGEINT) AS m2
      FROM d)
SELECT d.cell, CAST(d.n AS BIGINT) AS n_pts,
       CASE WHEN d.dev = 0 OR lag.lag = 0 THEN NULL
            WHEN d.dev > 0 AND lag.lag > 0 THEN 'HH'
            WHEN d.dev < 0 AND lag.lag < 0 THEN 'LL'
            WHEN d.dev > 0 THEN 'HL' ELSE 'LH' END AS quadrant,
       CAST(CASE WHEN m.m2 = 0 THEN NULL
            WHEN {num} >= 0 THEN {num} // {den}
            ELSE -((-{num}) // {den}) END AS BIGINT) AS lisa_ppm
FROM d JOIN lag USING (cell), st, m
"""


def cell_mk(points, res: int, *, us_col: str = "us",
            lat_col: str = "lat", lon_col: str = "lon",
            day_us: int = 86_400_000_000):
    """Per-cell Mann-Kendall trend over the dense daily count series —
    the RANK-based "is this tile monotonically heating up" test that
    complements cell_trend's OLS slope (MK is insensitive to the
    outlier spikes that yank a least-squares line): S = sum over day
    pairs i<j of sign(y_j - y_i), tau_ppm = trunc(1e6 * S / P) with
    P = m*(m-1)/2 pairs over the shared m-day dense span. Rides the
    same gap-filled calendar as cell_trend (zero-arrival days must
    count as decreases after a spike), so P is one shared constant
    and S is pure BIGINT sign sums — no float anywhere; the signed
    truncation toward zero matches Spark's `div`, replicated in the
    twin by sign decomposition (DuckDB's // floors negatives).

    Scale: the pairwise self-join runs over the DENSE AGGREGATE frame
    — |cells| * m(m-1)/2 rows with m the analysis window (bounded by
    policy at production: a 90-day window is 4,005 pairs/cell), never
    the point table; the join key is the cell, so it rides the fill
    join's exchange. Spans shorter than 2 days -> empty frame (P = 0).
    -> (cell, n_total, s_mk, tau_ppm)."""
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None or hi == lo:
        return (filled.groupBy("cell")
                .agg(F.sum("n_events").alias("n_total"),
                     F.lit(0).cast("long").alias("s_mk"),
                     F.lit(0).cast("long").alias("tau_ppm"))
                .limit(0))
    m_days = hi - lo + 1
    p_pairs = m_days * (m_days - 1) // 2
    a = filled.select("cell", F.col("day").alias("_di"),
                      F.col("n_events").alias("_yi"))
    b = filled.select("cell", F.col("day").alias("_dj"),
                      F.col("n_events").alias("_yj"))
    pairs = (a.join(b, "cell").filter(F.col("_di") < F.col("_dj"))
             .withColumn("_sgn", F.expr(
                 "CASE WHEN _yj > _yi THEN 1 "
                 "WHEN _yj < _yi THEN -1 ELSE 0 END")))
    tot = filled.groupBy("cell").agg(F.sum("n_events").alias("n_total"))
    s = pairs.groupBy("cell").agg(F.sum("_sgn").alias("s_mk"))
    return (tot.join(s, "cell")
            .select("cell", "n_total", "s_mk",
                    F.expr(f"(1000000 * s_mk) div {p_pairs}")
                    .alias("tau_ppm")))


def cell_mk_sql(pts_sql: str, res: int, *,
                day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_mk over a subquery producing
    (lat, lon, us) — same dense prologue; P derives from the span CTE
    and the signed division truncates toward zero via sign
    decomposition."""
    num = "(1000000 * s_mk)"
    den = "((hi - lo + 1) * (hi - lo) // 2)"
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
pairs AS (SELECT a.cell,
          CASE WHEN b.n_events > a.n_events THEN 1
               WHEN b.n_events < a.n_events THEN -1 ELSE 0 END AS sgn
          FROM filled a JOIN filled b
          ON a.cell = b.cell AND a.day < b.day),
s AS (SELECT cell, CAST(SUM(sgn) AS BIGINT) AS s_mk
      FROM pairs GROUP BY 1),
tot AS (SELECT cell, CAST(SUM(n_events) AS BIGINT) AS n_total
        FROM filled GROUP BY 1)
SELECT tot.cell, tot.n_total, s.s_mk,
       CAST(CASE WHEN {num} >= 0 THEN {num} // {den}
            ELSE -((-{num}) // {den}) END AS BIGINT) AS tau_ppm
FROM tot JOIN s USING (cell), span
WHERE hi > lo
"""


def cell_cusum(points, res: int, *, us_col: str = "us",
               lat_col: str = "lat", lon_col: str = "lon",
               day_us: int = 86_400_000_000):
    """Per-cell CUSUM changepoint scan over the dense daily count
    series — "WHEN did this tile's traffic shift", the point-estimate
    companion to cell_mk's "does it trend" and cell_anomaly's "which
    single days spike". Classic cumulative-sum-of-deviations, kept
    integer-exact by scaling deviations by the span length m: with
    T = sum(x) over the m dense days and cum_i the prefix sum through
    day-index i (1-based),

        S_i = m*cum_i - i*T        (== m^2 * classic CUSUM_i)

    so S is pure BIGINT (S_m == 0 identically). Emitted per cell:
    the max |S_i|, the EARLIEST day attaining it (the changepoint
    estimate — counts drop after it when the sign is +1, rise when
    -1), and that sign. Zero-filled days are load-bearing exactly as
    in cell_mk: a sparse rollup would miss the quiet-period half of
    every step edge.

    Scale: everything after the shared dense fill is one cell-keyed
    window cumsum plus one map-side-combinable struct-max agg over
    the DENSE AGGREGATE frame (|cells| x m rows, m bounded by the
    analysis window at production) — both ride the fill join's
    cell exchange; no self-join, no point-table second scan.
    -> (cell, n_total, max_abs_s, cp_day, cp_sign)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None:
        return (filled.groupBy("cell")
                .agg(F.sum("n_events").alias("n_total"),
                     F.lit(0).cast("long").alias("max_abs_s"),
                     F.lit(0).cast("long").alias("cp_day"),
                     F.lit(0).cast("long").alias("cp_sign"))
                .limit(0))
    m_days = hi - lo + 1
    w = (Window.partitionBy("cell").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot_w = Window.partitionBy("cell")
    s = (filled
         .withColumn("_cum", F.sum("n_events").over(w))
         .withColumn("_tot", F.sum("n_events").over(tot_w))
         .withColumn("_s", F.lit(m_days) * F.col("_cum")
                     - (F.col("day") - F.lit(lo) + 1) * F.col("_tot")))
    # lexicographic struct-max: largest |S|, then earliest day
    # (via negated day), carrying sign and the total along.
    pick = (s.groupBy("cell")
            .agg(F.max(F.struct(
                F.abs(F.col("_s")).alias("a"),
                (-F.col("day")).alias("nd"),
                F.signum("_s").cast("long").alias("sg"),
                F.col("_tot").alias("t"))).alias("_m")))
    return pick.select(
        "cell",
        F.col("_m.t").cast("long").alias("n_total"),
        F.col("_m.a").cast("long").alias("max_abs_s"),
        (-F.col("_m.nd")).cast("long").alias("cp_day"),
        F.col("_m.sg").alias("cp_sign"))


def cell_cusum_sql(pts_sql: str, res: int, *,
                   day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_cusum over a subquery producing
    (lat, lon, us) — same dense prologue, same m-scaled integer S,
    arg-max replicated as ROW_NUMBER over (|S| DESC, day ASC)."""
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
s AS (SELECT cell, day,
      SUM(n_events) OVER (PARTITION BY cell) AS tot,
      (hi - lo + 1) * SUM(n_events) OVER (PARTITION BY cell
           ORDER BY day ROWS UNBOUNDED PRECEDING)
        - (day - lo + 1) * SUM(n_events) OVER (PARTITION BY cell)
        AS sv
      FROM filled, span),
r AS (SELECT cell, tot, sv, day,
      ROW_NUMBER() OVER (PARTITION BY cell
                         ORDER BY ABS(sv) DESC, day ASC) AS rn
      FROM s)
SELECT cell, CAST(tot AS BIGINT) AS n_total,
       CAST(ABS(sv) AS BIGINT) AS max_abs_s,
       CAST(day AS BIGINT) AS cp_day,
       CAST(SIGN(sv) AS BIGINT) AS cp_sign
FROM r WHERE rn = 1
"""


def cell_autocorr(points, res: int, *, us_col: str = "us",
                  lat_col: str = "lat", lon_col: str = "lon",
                  day_us: int = 86_400_000_000):
    """Per-cell lag-1 autocorrelation of the dense daily count
    series — "is today's traffic predictive of tomorrow's", the
    persistence test that separates bursty-but-memoryless tiles from
    genuinely sticky ones (commuter cells read high r1, event-spike
    cells read ~0 or negative). The classic ACF(1) ratio needs no
    square root, so it is integer-exact end to end with m-scaled
    deviations d_t = m*x_t - T (sum(d) == 0 identically):

        r1_ppm = sign(num) * (1e6 * |num|) div den,
        num = sum_{{t<m}} d_t * d_{{t+1}},   den = sum d_t^2

    (sign decomposition because Spark's div truncates toward zero
    while DuckDB's // floors — the moran_i rule); den = 0 (constant
    series) -> NULL. The 1e6 product runs in DECIMAL(38,0)/HUGEINT:
    den fits a BIGINT for any production window but 1e6*|num| does
    not at the extreme.

    Scale: one cell-keyed lead window plus one combinable agg over
    the dense aggregate frame, riding the fill join's exchange —
    same cost envelope as cell_mk minus its pair join.
    -> (cell, n_total, num, den, r1_ppm)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None or hi == lo:
        return (filled.groupBy("cell")
                .agg(F.sum("n_events").alias("n_total"),
                     F.lit(0).cast("long").alias("num"),
                     F.lit(0).cast("long").alias("den"),
                     F.lit(None).cast("long").alias("r1_ppm"))
                .limit(0))
    m_days = hi - lo + 1
    tot_w = Window.partitionBy("cell")
    nxt_w = Window.partitionBy("cell").orderBy("day")
    d = (filled
         .withColumn("_tot", F.sum("n_events").over(tot_w))
         .withColumn("_d", F.lit(m_days) * F.col("n_events")
                     - F.col("_tot"))
         .withColumn("_dn", F.lead("_d").over(nxt_w)))
    agg = (d.groupBy("cell")
           .agg(F.max("_tot").alias("n_total"),
                F.sum(F.col("_d") * F.col("_dn")).alias("num"),
                F.sum(F.col("_d") * F.col("_d")).alias("den")))
    return agg.select(
        "cell", F.col("n_total").cast("long"),
        F.col("num").cast("long"), F.col("den").cast("long"),
        F.expr("CASE WHEN den = 0 THEN CAST(NULL AS BIGINT) "
               "ELSE CAST(CASE WHEN num >= 0 THEN 1 ELSE -1 END "
               "* ((1000000 * ABS(CAST(num AS DECIMAL(38,0)))) "
               "div CAST(den AS DECIMAL(38,0))) AS BIGINT) END")
        .alias("r1_ppm"))


def cell_autocorr_sql(pts_sql: str, res: int, *,
                      day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_autocorr over a subquery producing
    (lat, lon, us) — same dense prologue, same m-scaled deviations,
    sign-decomposed truncating HUGEINT division."""
    num = "(1000000 * ABS(CAST(num AS HUGEINT)))"
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
dev AS (SELECT cell, day,
      SUM(n_events) OVER (PARTITION BY cell) AS tot,
      (hi - lo + 1) * n_events
        - SUM(n_events) OVER (PARTITION BY cell) AS dv
      FROM filled, span),
dev2 AS (SELECT cell, tot, dv,
         LEAD(dv) OVER (PARTITION BY cell ORDER BY day) AS dn
         FROM dev),
agg AS (SELECT cell, MAX(tot) AS n_total,
        SUM(dv * dn) AS num, SUM(dv * dv) AS den
        FROM dev2 GROUP BY 1)
SELECT cell, CAST(n_total AS BIGINT) AS n_total,
       CAST(num AS BIGINT) AS num, CAST(den AS BIGINT) AS den,
       CAST(CASE WHEN den = 0 THEN NULL
            ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)
                 * ({num} // CAST(den AS HUGEINT)) END
            AS BIGINT) AS r1_ppm
FROM agg
"""


def _interleave_expr(x: str, y: str, res: int) -> str:
    """Spark/DuckDB-shared SQL text: Morton-interleave ``res`` bits of
    integer exprs x (even positions) and y (odd) — generated from one
    loop so the two engines can't drift."""
    # every term fully parenthesized: DuckDB/Postgres give << and |
    # EQUAL precedence (left-assoc), so an unwrapped `a << 2 | b`
    # parses as `(a << 2) | b` only by luck of ordering — wrap all
    terms = []
    for i in range(res):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def z_ranges(rects, res: int, *, id_col: str = "rect_id",
             xmin: str = "xmin", ymin: str = "ymin",
             xmax: str = "xmax", ymax: str = "ymax"):
    """Z-order range decomposition — the INDEX-PRUNING primitive over
    a Z-clustered table: for each query rectangle, the minimal set of
    CONTIGUOUS Morton-key ranges covering its cell cover at ``res``,
    i.e. exactly the key intervals a scan of zorder_key-sorted
    parquet must touch (everything outside skips by min/max stats).
    Computed for a whole WORKLOAD of rects at once — the batch planner
    shape, not a driver-side loop.

    Shape: lattice bounds per rect (the zorder clamp convention),
    sequence-explode the covered (x, y) grid — bounded by
    rect-size x 4^res, the caller matches res to rect size exactly as
    in covering joins — Morton-interleave, then gaps-and-islands per
    rect (key - row_number is constant within a run) and one
    (rect, island) agg. -> (rect_id, z_lo, z_hi, n_cells), where
    SUM(n_cells) == the rect's cover size (ranges partition the
    cover). Antimeridian-crossing rects (xmin > xmax) are the
    caller's split (two rects), same as bbox_join."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    n = 1 << res
    def lat2y(c):
        return (f"least({n - 1}L, greatest(0L, "
                f"CAST(floor(({c} + 90.0) / 180.0 * {n}) AS BIGINT)))")
    def lon2x(c):
        return (f"least({n - 1}L, greatest(0L, "
                f"CAST(floor(({c} + 180.0) / 360.0 * {n}) AS BIGINT)))")
    d = rects.select(
        F.col(id_col),
        F.expr(lon2x(xmin)).alias("_x0"),
        F.expr(lon2x(xmax)).alias("_x1"),
        F.expr(lat2y(ymin)).alias("_y0"),
        F.expr(lat2y(ymax)).alias("_y1"))
    cells = (d.select(
        id_col,
        F.explode(F.expr("sequence(_x0, _x1)")).alias("_x"),
        "_y0", "_y1")
        .select(id_col, "_x",
                F.explode(F.expr("sequence(_y0, _y1)")).alias("_y"))
        .select(F.col(id_col),
                F.expr(_interleave_expr("_x", "_y", res))
                .alias("_z")))
    w = Window.partitionBy(id_col).orderBy("_z")
    isl = cells.withColumn(
        "_grp", F.col("_z") - F.row_number().over(w))
    return (isl.groupBy(id_col, "_grp")
            .agg(F.min("_z").alias("z_lo"), F.max("_z").alias("z_hi"),
                 F.count(F.lit(1)).alias("n_cells"))
            .drop("_grp"))


def z_ranges_sql(rects_sql: str, res: int, *,
                 id_col: str = "rect_id") -> str:
    """DuckDB twin of z_ranges over a subquery producing
    (rect_id, xmin, ymin, xmax, ymax)."""
    n = 1 << res
    def lat2y(c):
        return (f"least({n - 1}, greatest(0, "
                f"CAST(floor(({c} + 90.0) / 180.0 * {n}) AS BIGINT)))")
    def lon2x(c):
        return (f"least({n - 1}, greatest(0, "
                f"CAST(floor(({c} + 180.0) / 360.0 * {n}) AS BIGINT)))")
    z = _interleave_expr("gx.g", "gy.g", res)
    return f"""
WITH d AS (SELECT {id_col},
           {lon2x('xmin')} AS x0, {lon2x('xmax')} AS x1,
           {lat2y('ymin')} AS y0, {lat2y('ymax')} AS y1
           FROM ({rects_sql})),
cells AS (
  SELECT d.{id_col}, {z} AS z
  FROM d, LATERAL unnest(generate_series(d.x0, d.x1)) AS gx(g),
          LATERAL unnest(generate_series(d.y0, d.y1)) AS gy(g)),
isl AS (SELECT {id_col}, z,
        z - ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY z)
          AS grp
        FROM cells)
SELECT {id_col}, MIN(z) AS z_lo, MAX(z) AS z_hi,
       COUNT(*) AS n_cells
FROM isl GROUP BY {id_col}, grp
"""


def pair_counts(points, radii_udeg, *, id_col: str = "id",
                lat_col: str = "lat", lon_col: str = "lon",
                res: int = 6):
    """Ripley's-K numerator ladder — the multi-scale clustering
    profile of a point pattern: for each radius r in ``radii_udeg``
    (micro-degrees, ascending), the number of UNORDERED point pairs
    with planar squared lattice distance d2 <= r^2. Against a CSR
    (random) baseline the curve's shape says at WHICH scale the
    pattern clusters — moran_i answers "is it clustered", this
    answers "at what radius".

    Integer-exact end to end: coords quantize to micro-degree BIGINTs
    (the _user_hops convention), d2 and every r^2 compare in BIGINT,
    and the CELL the blocking join keys on derives from the SAME
    integer lattice on both sides — cx = clamp(ix + 180e6) * n div
    360e6 — so a point can never fall outside a cover box that its
    floored coordinates are inside (a float-degree cover box can
    disagree with floored µdeg distance by one ulp at the rim).
    No wrap: an antimeridian pair's LATTICE distance is ~360e6 µdeg,
    far past any radius, consistently in both engines.

    Scale: the self-join is blocked on the integer cell at ``res``
    (pick it so max(radii) spans ~1-2 cells: explode factor stays
    <= 9); `id_l < id_r` keeps each unordered pair exactly once with
    no dedup shuffle (the right side has ONE cell per point, the
    distance_join lesson). One equi-join + one k-counter agg; the
    ladder unpivots from a single aggregate row via stack().
    -> (r_udeg, n_pairs), cumulative in r."""
    from pyspark.sql import functions as F
    radii = sorted(int(r) for r in radii_udeg)
    maxr = radii[-1]
    n = 1 << res

    def ix(c):
        return F.expr(f"CAST(floor({c} * 1000000.0) AS BIGINT)")

    def cellx(e_sql, off):
        # clamp BEFORE the div: `div` truncates toward zero, which
        # only equals floor on nonnegative operands
        return (f"(greatest(0, least(359999999, "
                f"({e_sql}) + {off + 180_000_000})) * {n}) "
                f"div 360000000")

    def celly(e_sql, off):
        return (f"(greatest(0, least(179999999, "
                f"({e_sql}) + {off + 90_000_000})) * {n}) "
                f"div 180000000")

    base = points.select(F.col(id_col).alias("_id"),
                         ix(lon_col).alias("_ix"),
                         ix(lat_col).alias("_iy"))
    left = (base
            .withColumn("_cx", F.explode(F.expr(
                f"sequence({cellx('_ix', -maxr)}, "
                f"{cellx('_ix', maxr)})")))
            .withColumn("_cy", F.explode(F.expr(
                f"sequence({celly('_iy', -maxr)}, "
                f"{celly('_iy', maxr)})")))
            .select(F.col("_id").alias("_l"),
                    F.col("_ix").alias("_lx"),
                    F.col("_iy").alias("_ly"),
                    (F.col("_cx") * n + F.col("_cy")).alias("_cell")))
    right = base.select(
        F.col("_id").alias("_r"), F.col("_ix").alias("_rx"),
        F.col("_iy").alias("_ry"),
        F.expr(f"({cellx('_ix', 0)}) * {n} "
               f"+ ({celly('_iy', 0)})").alias("_cell"))
    pairs = (left.join(right, "_cell")
             .filter(F.col("_l") < F.col("_r"))
             .select(F.expr("(_lx - _rx) * (_lx - _rx) "
                            "+ (_ly - _ry) * (_ly - _ry)")
                     .alias("_d2"))
             .filter(F.col("_d2") <= F.lit(maxr * maxr)))
    aggs = [F.coalesce(F.sum(F.expr(
        f"CASE WHEN _d2 <= {r * r} THEN 1 ELSE 0 END")),
        F.lit(0)).cast("long").alias(f"_c{i}")
        for i, r in enumerate(radii)]
    one = pairs.agg(*aggs)
    stack = ", ".join(f"CAST({r} AS BIGINT), _c{i}"
                      for i, r in enumerate(radii))
    return one.selectExpr(
        f"stack({len(radii)}, {stack}) AS (r_udeg, n_pairs)")


def pair_counts_sql(pts_sql: str, radii_udeg) -> str:
    """DuckDB twin of pair_counts over a subquery producing
    (id, lat, lon) — brute-force pair enumeration (the oracle runs at
    sf0.01; the blocked join is the scale path), identical lattice
    d2, UNION ALL ladder."""
    radii = sorted(int(r) for r in radii_udeg)
    maxr = radii[-1]
    sums = ", ".join(
        f"COALESCE(SUM(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0 END), 0)"
        f" AS c{i}" for i, r in enumerate(radii))
    rungs = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS r_udeg, "
        f"CAST(c{i} AS BIGINT) AS n_pairs FROM g"
        for i, r in enumerate(radii))
    return f"""
WITH p AS (SELECT id, CAST(floor(lat * 1000000.0) AS BIGINT) AS iy,
           CAST(floor(lon * 1000000.0) AS BIGINT) AS ix
           FROM ({pts_sql})),
pairs AS (SELECT (a.ix - b.ix) * (a.ix - b.ix)
          + (a.iy - b.iy) * (a.iy - b.iy) AS d2
          FROM p a JOIN p b ON a.id < b.id),
g AS (SELECT {sums} FROM pairs WHERE d2 <= {maxr * maxr})
{rungs}
"""


def nn_radius(points, radii_udeg, *, id_col: str = "id",
              lat_col: str = "lat", lon_col: str = "lon",
              res: int = 6):
    """Nearest-neighbor-distance ladder (Clark-Evans complement to
    pair_counts): for each radius r in ``radii_udeg`` (ascending),
    how many points have their nearest OTHER point within r —
    cumulative in r — plus a sentinel row ``r_udeg = -1`` counting
    points ISOLATED past the last rung. pair_counts profiles
    second-order clustering (pair density by scale); this profiles
    first-order spacing — a dispersed/inhibited pattern (sensor
    grids, synthetic jitter) and a clustered one separate here even
    when their K-curves agree at coarse radii.

    Same integer lattice as pair_counts: µdeg BIGINT coords, BIGINT
    d2, and the blocking cell derived from the SAME lattice on both
    sides, so the cover can never miss a neighbor the floored
    distance admits. The query side explodes its cover ring; the
    candidate side keys on its ONE home cell; `_l != _r` (both
    directions — each point needs ITS OWN minimum, unlike the
    unordered-pair count); duplicate candidates from overlapping
    cover cells collapse under MIN with no dedup shuffle. One
    equi-join, one id-keyed MIN agg, one left join back to the base
    ids (isolated points fall out as NULL), one k-counter agg,
    stack() unpivot. -> (r_udeg, n_points)."""
    from pyspark.sql import functions as F
    radii = sorted(int(r) for r in radii_udeg)
    maxr = radii[-1]
    n = 1 << res

    def ix(c):
        return F.expr(f"CAST(floor({c} * 1000000.0) AS BIGINT)")

    def cellx(e_sql, off):
        return (f"(greatest(0, least(359999999, "
                f"({e_sql}) + {off + 180_000_000})) * {n}) "
                f"div 360000000")

    def celly(e_sql, off):
        return (f"(greatest(0, least(179999999, "
                f"({e_sql}) + {off + 90_000_000})) * {n}) "
                f"div 180000000")

    base = points.select(F.col(id_col).alias("_id"),
                         ix(lon_col).alias("_ix"),
                         ix(lat_col).alias("_iy"))
    left = (base
            .withColumn("_cx", F.explode(F.expr(
                f"sequence({cellx('_ix', -maxr)}, "
                f"{cellx('_ix', maxr)})")))
            .withColumn("_cy", F.explode(F.expr(
                f"sequence({celly('_iy', -maxr)}, "
                f"{celly('_iy', maxr)})")))
            .select(F.col("_id").alias("_l"),
                    F.col("_ix").alias("_lx"),
                    F.col("_iy").alias("_ly"),
                    (F.col("_cx") * n + F.col("_cy")).alias("_cell")))
    right = base.select(
        F.col("_id").alias("_r"), F.col("_ix").alias("_rx"),
        F.col("_iy").alias("_ry"),
        F.expr(f"({cellx('_ix', 0)}) * {n} "
               f"+ ({celly('_iy', 0)})").alias("_cell"))
    nn = (left.join(right, "_cell")
          .filter(F.col("_l") != F.col("_r"))
          .select("_l", F.expr("(_lx - _rx) * (_lx - _rx) "
                               "+ (_ly - _ry) * (_ly - _ry)")
                  .alias("_d2"))
          .filter(F.col("_d2") <= F.lit(maxr * maxr))
          .groupBy("_l").agg(F.min("_d2").alias("_nnd2")))
    j = base.select("_id").join(nn, base["_id"] == nn["_l"], "left")
    aggs = [F.coalesce(F.sum(F.expr(
        f"CASE WHEN _nnd2 <= {r * r} THEN 1 ELSE 0 END")),
        F.lit(0)).cast("long").alias(f"_c{i}")
        for i, r in enumerate(radii)]
    aggs.append(F.coalesce(F.sum(F.expr(
        "CASE WHEN _nnd2 IS NULL THEN 1 ELSE 0 END")),
        F.lit(0)).cast("long").alias("_iso"))
    one = j.agg(*aggs)
    stack = ", ".join(f"CAST({r} AS BIGINT), _c{i}"
                      for i, r in enumerate(radii))
    stack += ", CAST(-1 AS BIGINT), _iso"
    return one.selectExpr(
        f"stack({len(radii) + 1}, {stack}) AS (r_udeg, n_points)")


def nn_radius_sql(pts_sql: str, radii_udeg) -> str:
    """DuckDB twin of nn_radius over a subquery producing
    (id, lat, lon) — brute-force per-point MIN within the last rung,
    identical lattice d2, UNION ALL ladder + isolated sentinel."""
    radii = sorted(int(r) for r in radii_udeg)
    maxr = radii[-1]
    sums = ", ".join(
        f"COALESCE(SUM(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0 END), 0)"
        f" AS c{i}" for i, r in enumerate(radii))
    rungs = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS r_udeg, "
        f"CAST(c{i} AS BIGINT) AS n_points FROM g"
        for i, r in enumerate(radii))
    return f"""
WITH p AS (SELECT id, CAST(floor(lat * 1000000.0) AS BIGINT) AS iy,
           CAST(floor(lon * 1000000.0) AS BIGINT) AS ix
           FROM ({pts_sql})),
nn AS (SELECT a.id, MIN((a.ix - b.ix) * (a.ix - b.ix)
       + (a.iy - b.iy) * (a.iy - b.iy)) AS d2
       FROM p a JOIN p b ON a.id <> b.id
       WHERE (a.ix - b.ix) * (a.ix - b.ix)
             + (a.iy - b.iy) * (a.iy - b.iy) <= {maxr * maxr}
       GROUP BY a.id),
j AS (SELECT p.id, nn.d2 FROM p LEFT JOIN nn USING (id)),
g AS (SELECT {sums},
      COALESCE(SUM(CASE WHEN d2 IS NULL THEN 1 ELSE 0 END), 0)
        AS iso FROM j)
{rungs}
UNION ALL SELECT CAST(-1 AS BIGINT), CAST(iso AS BIGINT) FROM g
"""


def voronoi_counts(points, seeds, *, seed_col: str = "seed_id",
                   lat_col: str = "lat", lon_col: str = "lon",
                   slat_col: str = "lat", slon_col: str = "lon"):
    """Discrete Voronoi assignment — nearest-facility classification:
    every point is assigned to its nearest seed (planar squared
    lattice distance, ties to the SMALLEST seed id), then one
    seed-keyed rollup of population and truncated mean squared
    distance. The catchment/coverage primitive behind facility
    planning, shard-by-geography routing, and label transfer from a
    small anchor set.

    Integer-exact: µdeg BIGINT coords on both sides, BIGINT d2, the
    argmin is MIN over (d2, seed_id) structs — lexicographic, so the
    tie rule is part of the ordering, no window needed — and the d2
    sum accumulates in DECIMAL(38,0)/HUGEINT (an antipodal point is
    ~1.6e17 µdeg²; BIGINT overflows after ~57 of them) with only the
    BIGINT-safe truncated mean reaching the schema (the bearing_hist
    rule: wide types never reach the result).

    Scale: seeds are aggregate-sized by contract (facilities,
    capitals, cluster centers — thousands at most), collected into
    ONE array row and broadcast; the argmin is an `array_min` over a
    per-row `transform` — MAP-ONLY, no point-keyed exchange ever
    carries the k-fold expansion (the naive broadcast-join + groupBy
    over point ids shuffles every point once for nothing). The only
    exchange is the final seed-cardinality agg.
    -> (seed_id, n_pts, mean_d2)."""
    from pyspark.sql import functions as F

    def ix(c):
        return F.expr(f"CAST(floor({c} * 1000000.0) AS BIGINT)")

    p = points.select(ix(lon_col).alias("_px"),
                      ix(lat_col).alias("_py"))
    sarr = (seeds.select(F.struct(
        F.col(seed_col).alias("sid"), ix(slon_col).alias("sx"),
        ix(slat_col).alias("sy")).alias("_s"))
        .agg(F.collect_list("_s").alias("_seeds")))
    near = (p.join(F.broadcast(sarr))
            .select(F.expr(
                "array_min(transform(_seeds, s -> struct("
                "(_px - s.sx) * (_px - s.sx) "
                "+ (_py - s.sy) * (_py - s.sy) AS d2, "
                "s.sid AS sid)))").alias("_m")))
    return (near.groupBy(F.col("_m.sid").alias(seed_col))
            .agg(F.count(F.lit(1)).alias("n_pts"),
                 F.sum(F.col("_m.d2").cast("decimal(38,0)"))
                 .alias("_s"))
            .select(seed_col, "n_pts",
                    F.expr("_s div n_pts").alias("mean_d2")))


def voronoi_counts_sql(pts_sql: str, seeds_sql: str) -> str:
    """DuckDB twin of voronoi_counts over subqueries producing
    (lat, lon) and (seed_id, lat, lon) — ROW_NUMBER argmin with the
    same (d2, seed_id) order, HUGEINT sum, trunc mean."""
    return f"""
WITH vor_p AS (SELECT ROW_NUMBER() OVER () AS pid,
           CAST(floor(lat * 1000000.0) AS BIGINT) AS py,
           CAST(floor(lon * 1000000.0) AS BIGINT) AS px
           FROM ({pts_sql})),
vor_s AS (SELECT seed_id AS sid,
      CAST(floor(lat * 1000000.0) AS BIGINT) AS sy,
      CAST(floor(lon * 1000000.0) AS BIGINT) AS sx
      FROM ({seeds_sql})),
vor_c AS (SELECT p.pid, s.sid,
      (p.px - s.sx) * (p.px - s.sx)
      + (p.py - s.sy) * (p.py - s.sy) AS d2,
      ROW_NUMBER() OVER (PARTITION BY p.pid
                         ORDER BY (p.px - s.sx) * (p.px - s.sx)
                         + (p.py - s.sy) * (p.py - s.sy), s.sid)
        AS rn
      FROM vor_p p CROSS JOIN vor_s s)
SELECT sid AS seed_id, COUNT(*) AS n_pts,
       CAST(SUM(CAST(d2 AS HUGEINT)) // COUNT(*) AS BIGINT)
         AS mean_d2
FROM vor_c WHERE rn = 1 GROUP BY 1
"""


def cell_fano(points, res: int, *, us_col: str = "us",
              lat_col: str = "lat", lon_col: str = "lon",
              day_us: int = 86_400_000_000):
    """Per-cell burstiness (Fano factor) of the daily arrival count —
    variance-to-mean in exact floor ppm over the DENSE day calendar:
    a Poisson-stable cell sits at ~1e6, commuter/event cells run far
    above, and a metronome bot sits near 0 — the temporal-anomaly
    screen that complements cell_trend (drift) and cell_mk
    (monotonicity) with DISPERSION. Gap days count as zeros via the
    shared _dense_daily_counts fill (load-bearing: sparse cells are
    exactly the bursty ones).

    Exact: with n dense days, S = Σx, Q = Σx², fano = var/mean =
    (nQ − S²) / ((n−1)S) — one fraction, so fano_ppm =
    (1e6·(nQ − S²)) div ((n−1)·S) needs no intermediate rounding;
    numerator nonnegative by Cauchy-Schwarz so div == floor. Sums
    accumulate in DECIMAL(38,0)/HUGEINT (a 1e9-events/day cell
    squares past BIGINT); only the ppm reaches the schema. Cells
    with S = 0 drop; a single-day span (n = 1) yields no rows.

    Scale: the (cell, day) groupBy is the same shuffle any daily
    rollup pays; everything after runs on aggregate-sized frames.
    -> (cell, n_days, total, fano_ppm)."""
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col,
        lon_col=lon_col, day_us=day_us)
    g = (filled.groupBy("cell")
         .agg(F.count(F.lit(1)).alias("n_days"),
              F.sum(F.col("n_events").cast("decimal(38,0)"))
              .alias("_s"),
              F.sum(F.col("n_events").cast("decimal(38,0)")
                    * F.col("n_events")).alias("_q")))
    return (g.filter((F.col("_s") > 0) & (F.col("n_days") >= 2))
            .select("cell", "n_days",
                    F.col("_s").cast("long").alias("total"),
                    F.expr("(1000000 * (CAST(n_days AS DECIMAL(38,0))"
                           " * _q - _s * _s)) "
                           "div ((n_days - 1) * _s)").alias("fano_ppm")))


def cell_fano_sql(pts_sql: str, res: int, *,
                  day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_fano — shared dense-fill prefix, HUGEINT
    sums, same single-fraction floor ppm."""
    prefix = _dense_daily_counts_sql(pts_sql, res, day_us)
    return f"""
WITH {prefix},
g AS (SELECT cell, COUNT(*) AS n,
      SUM(CAST(n_events AS HUGEINT)) AS s,
      SUM(CAST(n_events AS HUGEINT) * n_events) AS q
      FROM filled GROUP BY cell)
SELECT cell, CAST(n AS BIGINT) AS n_days, CAST(s AS BIGINT) AS total,
       CAST((1000000 * (CAST(n AS HUGEINT) * q - s * s))
            // ((n - 1) * s) AS BIGINT) AS fano_ppm
FROM g WHERE s > 0 AND n >= 2
"""


def cell_gini(points, res: int, *, lat_col: str = "lat",
              lon_col: str = "lon"):
    """Spatial concentration of activity — the exact Gini coefficient
    of the point count over OCCUPIED cells, in floor ppm: 0 = every
    occupied cell carries the same load, ->1e6 = one cell carries
    everything. The single-number skew telemetry a partitioner wants
    BEFORE choosing AQE skew-join thresholds (BENCH/SKEW.md measures
    what skew costs; this measures how much the data has).

    Exact rank identity: with counts x_1 <= ... <= x_n (ties in any
    order — equal values make the rank sum permutation-invariant),
    G = (2·Σ i·x_i − (n+1)·S) / (n·S), so gini_ppm =
    (1e6·(2Σ i·x_i − (n+1)S)) div (nS); the numerator is nonnegative
    for ascending ranks so div == floor. Rank sums accumulate in
    DECIMAL(38,0)/HUGEINT.

    Scale: ranks ride ONE window over the AGGREGATE (cell, count)
    frame — bounded by the cell lattice (4^res), orders of magnitude
    below the point volume; the single-partition window is the
    documented trade at planet res (use the two-phase distributed
    rank of seg_rank's family if 4^res ever approaches point counts).
    -> one row (n_cells, total, gini_ppm)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    counts = (points.select(
        cell_encode(lat_col, lon_col, res).alias("_cell"))
        .groupBy("_cell").agg(F.count(F.lit(1)).alias("_x")))
    w = Window.orderBy("_x", "_cell")
    r = counts.withColumn("_i", F.row_number().over(w))
    return (r.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("_x").alias("total"),
        F.sum(F.col("_i").cast("decimal(38,0)") * F.col("_x"))
        .alias("_ix"),
        F.sum(F.col("_x").cast("decimal(38,0)")).alias("_s"))
        .select("n_cells", "total",
                F.expr("(1000000 * (2 * _ix - (n_cells + 1) * _s)) "
                       "div (CAST(n_cells AS DECIMAL(38,0)) * _s)")
                .alias("gini_ppm")))


def cell_gini_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of cell_gini — same cell id, same rank identity,
    HUGEINT accumulation."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return f"""
WITH c AS (SELECT {cell} AS cell FROM ({pts_sql})),
g AS (SELECT cell, COUNT(*) AS x FROM c GROUP BY cell),
r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, cell) AS i FROM g),
a AS (SELECT COUNT(*) AS n, SUM(CAST(x AS HUGEINT)) AS s,
      SUM(CAST(i AS HUGEINT) * x) AS ix FROM r)
SELECT CAST(n AS BIGINT) AS n_cells, CAST(s AS BIGINT) AS total,
       CAST((1000000 * (2 * ix - (n + 1) * s))
            // (CAST(n AS HUGEINT) * s) AS BIGINT) AS gini_ppm
FROM a
"""


def proximity_edges(points, r_udeg: int, *, id_col: str = "id",
                    lat_col: str = "lat", lon_col: str = "lon",
                    res: int = 6, keep_d2: bool = False,
                    carry: tuple = ()):
    """Proximity graph edges — each unordered pair of points within
    ``r_udeg`` (closed, squared-lattice metric) exactly once as
    (id_a, id_b) with id_a < id_b: the geometric-graph constructor
    under triadic-closure analysis (triangles), spatial CC, and
    epsilon-graph visualization. Same integer lattice + cover-cell
    blocking as pair_counts (which AGGREGATES the same pair stream
    this operator EMITS); one-cell right side keeps each pair single
    with no dedup shuffle. ``keep_d2`` appends the exact squared
    lattice distance as an edge weight (the bounded_paths feed).
    ``carry`` names point attributes copied through the pair join as
    ``{c}_a`` / ``{c}_b`` (the colocation_pi feed) — carrying beats
    joining the attribute back onto the edge stream afterwards, which
    at web scale is two extra point-sized shuffles.
    -> (id_a, id_b[, d2][, carry_a..., carry_b...])."""
    from pyspark.sql import functions as F
    maxr = int(r_udeg)
    n = 1 << res

    def ix(c):
        return F.expr(f"CAST(floor({c} * 1000000.0) AS BIGINT)")

    def cellx(e_sql, off):
        return (f"(greatest(0, least(359999999, "
                f"({e_sql}) + {off + 180_000_000})) * {n}) "
                f"div 360000000")

    def celly(e_sql, off):
        return (f"(greatest(0, least(179999999, "
                f"({e_sql}) + {off + 90_000_000})) * {n}) "
                f"div 180000000")

    base = points.select(F.col(id_col).alias("_id"),
                         ix(lon_col).alias("_ix"),
                         ix(lat_col).alias("_iy"),
                         *[F.col(c).alias(f"_k_{c}") for c in carry])
    left = (base
            .withColumn("_cx", F.explode(F.expr(
                f"sequence({cellx('_ix', -maxr)}, "
                f"{cellx('_ix', maxr)})")))
            .withColumn("_cy", F.explode(F.expr(
                f"sequence({celly('_iy', -maxr)}, "
                f"{celly('_iy', maxr)})")))
            .select(F.col("_id").alias("_l"),
                    F.col("_ix").alias("_lx"),
                    F.col("_iy").alias("_ly"),
                    (F.col("_cx") * n + F.col("_cy")).alias("_cell"),
                    *[F.col(f"_k_{c}").alias(f"{c}_a")
                      for c in carry]))
    right = base.select(
        F.col("_id").alias("_r"), F.col("_ix").alias("_rx"),
        F.col("_iy").alias("_ry"),
        F.expr(f"({cellx('_ix', 0)}) * {n} "
               f"+ ({celly('_iy', 0)})").alias("_cell"),
        *[F.col(f"_k_{c}").alias(f"{c}_b") for c in carry])
    out = (left.join(right, "_cell")
           .filter(F.col("_l") < F.col("_r"))
           .withColumn("_d2", F.expr(
               "(_lx - _rx) * (_lx - _rx) "
               "+ (_ly - _ry) * (_ly - _ry)"))
           .filter(F.col("_d2") <= F.lit(maxr * maxr)))
    cols = [F.col("_l").alias("id_a"), F.col("_r").alias("id_b")]
    if keep_d2:
        cols.append(F.col("_d2").alias("d2"))
    cols += [F.col(f"{c}_a") for c in carry]
    cols += [F.col(f"{c}_b") for c in carry]
    return out.select(*cols)


def proximity_edges_sql(pts_sql: str, r_udeg: int,
                        keep_d2: bool = False,
                        carry: tuple = ()) -> str:
    """DuckDB twin of proximity_edges over a subquery producing
    (id, lat, lon[, carry...]) — brute-force pair filter, identical
    lattice."""
    maxr = int(r_udeg)
    d2 = (", (a.ix - b.ix) * (a.ix - b.ix) "
          "+ (a.iy - b.iy) * (a.iy - b.iy) AS d2" if keep_d2 else "")
    kcols = "".join(f", a.{c} AS {c}_a" for c in carry)
    kcols += "".join(f", b.{c} AS {c}_b" for c in carry)
    ksel = "".join(f", {c}" for c in carry)
    return f"""
SELECT a.id AS id_a, b.id AS id_b{d2}{kcols}
FROM (SELECT id, CAST(floor(lat * 1000000.0) AS BIGINT) AS iy,
      CAST(floor(lon * 1000000.0) AS BIGINT) AS ix{ksel}
      FROM ({pts_sql})) a
JOIN (SELECT id, CAST(floor(lat * 1000000.0) AS BIGINT) AS iy,
      CAST(floor(lon * 1000000.0) AS BIGINT) AS ix{ksel}
      FROM ({pts_sql})) b
ON a.id < b.id
AND (a.ix - b.ix) * (a.ix - b.ix)
    + (a.iy - b.iy) * (a.iy - b.iy) <= {maxr * maxr}
"""


def colocation_pi(points, r_udeg: int, *, id_col: str = "id",
                  type_col: str = "ftype", lat_col: str = "lat",
                  lon_col: str = "lon", res: int = 6):
    """Spatial colocation pattern mining — the participation index of
    Shekhar & Huang (KDD'01): for every unordered pair of feature
    TYPES (A, B), how often do instances of each type have a neighbor
    of the other within ``r_udeg``?  part_a = #distinct A-instances
    with >=1 B-neighbor, pr(A->B) = part_a / n_a, and
    pi_ppm = min(pr(A->B), pr(B->A)) in exact floor ppm — the
    prevalence measure that is antimonotone (a high-PI pair is the
    join key for mining larger colocation patterns). On web-event
    data this surfaces event types that systematically co-occur in
    space (e.g. 'signup' near 'purchase'), the spatial analogue of
    the collocation-lift text operator.

    Integer-exact: rides proximity_edges' closed squared-lattice
    neighbor metric (carry=type), counts and floor-div ppm in BIGINT.
    Only type pairs with >=1 cross-type neighbor pair appear (PI of
    an absent pair is 0 by definition — emitting the zero rows would
    need a type x type cross join).

    Scale: ONE blocked pair join emits the neighbor stream with types
    carried through (no attribute join-back); the directed mirror is
    a single explode over that stream (NOT a self-union, which would
    run the pair join twice — plan subtrees are recomputed, not
    shared); the distinct-participant count groups on
    (type_i, type_j, id_i) — partial-aggregating, keyed wider than
    the type-pair space so no hot reducer — and the resulting
    type-pair-sized aggregate is materialized once before the p1/p2
    self-pairing (which would otherwise recompute the whole join per
    branch); per-type totals are an aggregate-row broadcast.
    -> (type_a, type_b, n_a, n_b, part_a, part_b, pi_ppm) with
    type_a < type_b."""
    from pyspark.sql import functions as F

    from ..materialize import materialize
    e = proximity_edges(points, r_udeg, id_col=id_col,
                        lat_col=lat_col, lon_col=lon_col, res=res,
                        carry=(type_col,))
    ta, tb = f"{type_col}_a", f"{type_col}_b"
    d = (e.filter(F.col(ta) != F.col(tb))
         .select(F.explode(F.array(
             F.struct(F.col(ta).alias("ti"), F.col(tb).alias("tj"),
                      F.col("id_a").alias("ii")),
             F.struct(F.col(tb).alias("ti"), F.col(ta).alias("tj"),
                      F.col("id_b").alias("ii")))).alias("_m"))
         .select(F.col("_m.ti").alias("_ti"),
                 F.col("_m.tj").alias("_tj"),
                 F.col("_m.ii").alias("_ii")))
    part = materialize(
        d.groupBy("_ti", "_tj").agg(F.countDistinct("_ii")
                                    .alias("_np")))
    # tot is referenced twice below under different aliases (_ti /
    # _tj) — ReuseExchange cannot match the two subtrees, so without
    # this materialize the full point scan + agg would run twice
    tot = materialize(points.groupBy(F.col(type_col).alias("_t"))
                      .agg(F.count(F.lit(1)).alias("_n")))
    p1 = part.filter(F.col("_ti") < F.col("_tj"))
    p2 = part.select(F.col("_tj").alias("_ti"),
                     F.col("_ti").alias("_tj"),
                     F.col("_np").alias("_np2"))
    out = (p1.join(p2, ["_ti", "_tj"])
           .join(F.broadcast(tot.select(F.col("_t").alias("_ti"),
                                        F.col("_n").alias("n_a"))),
                 "_ti")
           .join(F.broadcast(tot.select(F.col("_t").alias("_tj"),
                                        F.col("_n").alias("n_b"))),
                 "_tj"))
    return out.select(
        F.col("_ti").alias("type_a"), F.col("_tj").alias("type_b"),
        "n_a", "n_b",
        F.col("_np").alias("part_a"), F.col("_np2").alias("part_b"),
        F.expr("least((1000000 * _np) div n_a, "
               "(1000000 * _np2) div n_b)").alias("pi_ppm"))


def colocation_pi_sql(pts_sql: str, r_udeg: int,
                      type_col: str = "ftype") -> str:
    """DuckDB twin of colocation_pi over a subquery producing
    (id, lat, lon, {type_col}) — brute-force neighbor pairs via
    proximity_edges_sql(carry), identical aggregation."""
    pe = proximity_edges_sql(pts_sql, r_udeg, carry=(type_col,))
    ta, tb = f"{type_col}_a", f"{type_col}_b"
    return f"""
WITH pe AS ({pe}),
dir AS (SELECT {ta} AS ti, {tb} AS tj, id_a AS ii FROM pe
        WHERE {ta} <> {tb}
        UNION ALL
        SELECT {tb}, {ta}, id_b FROM pe WHERE {ta} <> {tb}),
part AS (SELECT ti, tj, COUNT(DISTINCT ii) AS np
         FROM dir GROUP BY 1, 2),
tot AS (SELECT {type_col} AS t, COUNT(*) AS n
        FROM ({pts_sql}) GROUP BY 1)
SELECT p1.ti AS type_a, p1.tj AS type_b,
       ta.n AS n_a, tb.n AS n_b,
       p1.np AS part_a, p2.np AS part_b,
       LEAST((1000000 * p1.np) // ta.n,
             (1000000 * p2.np) // tb.n) AS pi_ppm
FROM part p1
JOIN part p2 ON p1.ti = p2.tj AND p1.tj = p2.ti
JOIN tot ta ON ta.t = p1.ti
JOIN tot tb ON tb.t = p1.tj
WHERE p1.ti < p1.tj
"""


def _seg_cross(px, py, qx, qy, rx, ry) -> str:
    """Shared Spark/DuckDB SQL text: the 2D cross product
    (q - p) x (r - p) over integer micro-degree coordinates — sign
    says which side of directed line p->q the point r lies on.
    |coord| <= 3.6e8 so each product <= ~5.2e17 and the difference
    <= ~1.1e18: comfortably BIGINT, no floats, no ulp. Generated from
    one function so the two engines can't drift."""
    return (f"(({qx}) - ({px})) * (({ry}) - ({py})) "
            f"- (({qy}) - ({py})) * (({rx}) - ({px}))")


def seg_crossings(segs, *, res: int = 3):
    """Exact segment-crossing join — every unordered pair of line
    segments that PROPERLY cross (interiors intersect at a single
    point; touching at an endpoint or collinear overlap excluded) as
    (id_a, id_b) with id_a < id_b: the planar-conflict primitive
    under path-crossing analysis, road-network conflation, and
    cadastral overlay QA. Input segments carry integer micro-degree
    BIGINT endpoints (id, ax, ay, bx, by).

    Proper crossing = two strict straddle tests over four integer
    cross products (_seg_cross) — a segment pair sharing an endpoint,
    merely touching, or collinear yields a zero product and is
    excluded, so per-user consecutive hops never "cross" at their
    shared vertex. Zero-length segments never cross anything.

    Scale (PBSM, Patel & DeWitt '96): each segment replicates to
    every lattice cell its bbox overlaps (both sides — segments are
    extended objects, unlike pair_counts' one-cell right side); a
    candidate pair shares >=1 cell but is REPORTED exactly once — in
    the cell containing the reference point (max of the two bbox
    minima per axis), the lower-left corner of the bbox intersection,
    which lies in both covers and in exactly one cell. One equi-join
    on the cell key, all predicates integer, no dedup shuffle. The
    covered frame is explicitly repartitioned on the cell key to one
    partition per core BEFORE the self-join: the candidate stage is
    CPU-bound (four 64-bit products per pair) on byte-tiny rows, so
    AQE's byte-based coalescing would otherwise collapse it to 1-2
    tasks; pre-partitioning both (identical) sides also makes the
    self-join exchange-free. -> (id_a, id_b)."""
    from pyspark.sql import functions as F
    n = 1 << res

    def cellx(e_sql):
        return (f"(greatest(0, least(359999999, "
                f"({e_sql}) + 180000000)) * {n}) div 360000000")

    def celly(e_sql):
        return (f"(greatest(0, least(179999999, "
                f"({e_sql}) + 90000000)) * {n}) div 180000000")

    base = segs.select(
        F.col("id").alias("_id"), F.col("ax").alias("_ax"),
        F.col("ay").alias("_ay"), F.col("bx").alias("_bx"),
        F.col("by").alias("_by"),
        F.expr("least(ax, bx)").alias("_minx"),
        F.expr("greatest(ax, bx)").alias("_maxx"),
        F.expr("least(ay, by)").alias("_miny"),
        F.expr("greatest(ay, by)").alias("_maxy"))
    cov = (base
           .withColumn("_cx", F.explode(F.expr(
               f"sequence({cellx('_minx')}, {cellx('_maxx')})")))
           .withColumn("_cy", F.explode(F.expr(
               f"sequence({celly('_miny')}, {celly('_maxy')})")))
           .withColumn("_cell", F.col("_cx") * n + F.col("_cy"))
           .drop("_cx", "_cy"))
    cov = cov.repartition(
        segs.sparkSession.sparkContext.defaultParallelism, "_cell")
    lcols = {c: f"_l{c[1:]}" for c in base.columns}
    rcols = {c: f"_r{c[1:]}" for c in base.columns}
    left = cov.select("_cell",
                      *[F.col(c).alias(a) for c, a in lcols.items()])
    right = cov.select("_cell",
                       *[F.col(c).alias(a) for c, a in rcols.items()])
    d1 = _seg_cross("_rax", "_ray", "_rbx", "_rby", "_lax", "_lay")
    d2 = _seg_cross("_rax", "_ray", "_rbx", "_rby", "_lbx", "_lby")
    d3 = _seg_cross("_lax", "_lay", "_lbx", "_lby", "_rax", "_ray")
    d4 = _seg_cross("_lax", "_lay", "_lbx", "_lby", "_rbx", "_rby")
    out = (left.join(right, "_cell")
           .filter(F.col("_lid") < F.col("_rid"))
           .filter(F.expr(
               "_lminx <= _rmaxx AND _rminx <= _lmaxx "
               "AND _lminy <= _rmaxy AND _rminy <= _lmaxy"))
           .filter(F.expr(
               f"({cellx('greatest(_lminx, _rminx)')}) * {n} "
               f"+ ({celly('greatest(_lminy, _rminy)')}) = _cell"))
           .filter(F.expr(
               f"((({d1}) > 0 AND ({d2}) < 0) "
               f"OR (({d1}) < 0 AND ({d2}) > 0)) "
               f"AND ((({d3}) > 0 AND ({d4}) < 0) "
               f"OR (({d3}) < 0 AND ({d4}) > 0))")))
    return out.select(F.col("_lid").alias("id_a"),
                      F.col("_rid").alias("id_b"))


def seg_crossings_sql(segs_sql: str) -> str:
    """DuckDB twin of seg_crossings over a subquery producing
    (id, ax, ay, bx, by) — brute-force bbox-overlap pairs, the SAME
    four _seg_cross products and strict straddle tests."""
    d1 = _seg_cross("b.ax", "b.ay", "b.bx", "b.by", "a.ax", "a.ay")
    d2 = _seg_cross("b.ax", "b.ay", "b.bx", "b.by", "a.bx", "a.by")
    d3 = _seg_cross("a.ax", "a.ay", "a.bx", "a.by", "b.ax", "b.ay")
    d4 = _seg_cross("a.ax", "a.ay", "a.bx", "a.by", "b.bx", "b.by")
    return f"""
WITH sx_segs AS (SELECT id, ax, ay, bx, by,
           LEAST(ax, bx) AS minx, GREATEST(ax, bx) AS maxx,
           LEAST(ay, by) AS miny, GREATEST(ay, by) AS maxy
           FROM ({segs_sql}))
SELECT a.id AS id_a, b.id AS id_b
FROM sx_segs a JOIN sx_segs b
ON a.id < b.id
AND a.minx <= b.maxx AND b.minx <= a.maxx
AND a.miny <= b.maxy AND b.miny <= a.maxy
AND ((({d1}) > 0 AND ({d2}) < 0) OR (({d1}) < 0 AND ({d2}) > 0))
AND ((({d3}) > 0 AND ({d4}) < 0) OR (({d3}) < 0 AND ({d4}) > 0))
"""


def peak_cells(tiles, res: int, *, cell_col: str = "cell",
               count_col: str = "n_docs", ring: int = 1):
    """Local-maxima detection over the raster — the peak-extraction
    pass after (or instead of) focal smoothing: cells whose count
    STRICTLY exceeds every Chebyshev ``ring`` neighbor's count.
    Absent neighbors hold 0, so an isolated occupied cell is a peak;
    plateau ties are NOT peaks (every plateau cell fails the strict
    test) — deterministic, no tie-break needed. Same
    wrap/clamp/residue-dedup ring relation as focal_sum, and the
    same scatter==gather symmetry argument: each occupied cell
    SENDS its count to every neighbor except itself, the receiver
    keeps the max, and a cell is a peak iff it received nothing or
    beat the max.

    Scale: one ring-explode of AGGREGATE rows -> one cell-keyed
    map-side-combinable MAX -> one cell-keyed left join back (the
    agg and join hash on the same key). -> (cell, count_col,
    max_nbr) for the peaks only."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    contrib = (cell_neighbors_explode(
        tiles.select(cell_col, count_col), res,
        cell_col=cell_col, ring=ring)
        .filter(F.col("_neighbor") != F.col(cell_col))
        .groupBy("_neighbor")
        .agg(F.max(count_col).alias("_mx"))
        .withColumnRenamed("_neighbor", cell_col))
    return (tiles.select(cell_col, count_col)
            .join(contrib, cell_col, "left")
            .withColumn("max_nbr",
                        F.coalesce(F.col("_mx"), F.lit(0))
                        .cast("long"))
            .filter(F.col(count_col) > F.col("max_nbr"))
            .select(cell_col, count_col, "max_nbr"))


def peak_cells_sql(counts_sql: str, res: int, *, ring: int = 1,
                   count_col: str = "n_docs") -> str:
    """DuckDB twin of peak_cells over a counts subquery
    (cell, ``count_col``) — same ring fragment, strict max test."""
    from ..functions.cells import cell_neighbors_sql
    nb = cell_neighbors_sql("c.cell", res, ring)
    return (
        f"WITH counts AS ({counts_sql}), "
        f"contrib AS (SELECT nb.neighbor AS cell, "
        f"MAX({count_col}) AS mx "
        f"FROM counts c, LATERAL ({nb}) nb "
        f"WHERE nb.neighbor <> c.cell GROUP BY 1) "
        f"SELECT counts.cell, counts.{count_col}, "
        f"CAST(COALESCE(contrib.mx, 0) AS BIGINT) AS max_nbr "
        f"FROM counts LEFT JOIN contrib USING (cell) "
        f"WHERE counts.{count_col} > COALESCE(contrib.mx, 0)")


def d8_flow(tiles, res: int, *, cell_col: str = "cell",
            count_col: str = "n_docs"):
    """D8 steepest-descent assignment over the density raster — the
    hydrology flow-direction primitive on the count surface: each
    occupied cell points at its LOWEST ring-1 neighbor (unoccupied
    neighbors hold 0, so boundary cells of the occupied region drain
    outward — exactly elevation-0 ocean cells in the DEM analogy),
    the first step of density-descent basin decomposition. A cell is
    a SINK when no strict descent exists (min neighbor count >= its
    own — a density local minimum or a 0-0 plateau edge... the
    latter impossible: occupied cells hold >= 1 > 0).

    Deterministic argmin with NO engine-specific min_by: stage 1
    takes MIN(neighbor count) per center (a window over the 8-row
    neighbor frame), stage 2 keeps rows AT the min and takes the
    smallest neighbor cell id — the same two stages in both engines,
    so ties can never order-flip. -> (cell, n, down_cell, down_n,
    is_sink 0/1).

    Scale: one 8-way explode of AGGREGATE rows, one cell-keyed left
    join to fetch neighbor counts, one window + one groupBy on the
    center key."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    t = tiles.select(F.col(cell_col).alias("_c"),
                     F.col(count_col).alias("_n"))
    nb = (cell_neighbors_explode(t, res, cell_col="_c")
          .filter(F.col("_neighbor") != F.col("_c")))
    j = (nb.join(t.select(F.col("_c").alias("_neighbor"),
                          F.col("_n").alias("_nn_raw")),
                 "_neighbor", "left")
         .withColumn("_nn", F.coalesce(F.col("_nn_raw"), F.lit(0))
                     .cast("long")))
    w = Window.partitionBy("_c")
    j = j.withColumn("_min_n", F.min("_nn").over(w))
    return (j.filter(F.col("_nn") == F.col("_min_n"))
            .groupBy("_c", "_n")
            .agg(F.min("_neighbor").alias("down_cell"),
                 F.max("_min_n").alias("down_n"))
            .select(F.col("_c").alias(cell_col),
                    F.col("_n").alias("n"), "down_cell", "down_n",
                    F.expr("CAST(CASE WHEN down_n >= _n THEN 1 "
                           "ELSE 0 END AS BIGINT)").alias("is_sink")))


def d8_flow_sql(counts_sql: str, res: int, *,
                count_col: str = "n_docs") -> str:
    """DuckDB twin of d8_flow over a counts subquery
    (cell, ``count_col``) — same ring fragment, same two-stage
    deterministic argmin."""
    from ..functions.cells import cell_neighbors_sql
    frag = cell_neighbors_sql("c.cell", res, 1)
    return f"""
WITH counts AS ({counts_sql}),
nbx AS (SELECT c.cell, c.{count_col} AS n, nb.neighbor
        FROM counts c, LATERAL ({frag}) nb
        WHERE nb.neighbor <> c.cell),
jx AS (SELECT nbx.cell, nbx.n, nbx.neighbor,
       COALESCE(c2.{count_col}, 0) AS nn
       FROM nbx LEFT JOIN counts c2 ON c2.cell = nbx.neighbor),
wx AS (SELECT *, MIN(nn) OVER (PARTITION BY cell) AS min_n FROM jx)
SELECT cell, CAST(n AS BIGINT) AS n,
       CAST(MIN(neighbor) AS BIGINT) AS down_cell,
       CAST(MAX(min_n) AS BIGINT) AS down_n,
       CAST(CASE WHEN MAX(min_n) >= n THEN 1 ELSE 0 END AS BIGINT)
         AS is_sink
FROM wx WHERE nn = min_n GROUP BY cell, n
"""


def d8_basins(tiles, res: int, rounds: int, *,
              cell_col: str = "cell", count_col: str = "n_docs"):
    """Watershed (basin) labeling of the density raster — the
    segmentation pass on top of d8_flow: every occupied cell is
    labeled with the TERMINAL of its steepest-descent path (a sink
    cell, or the unoccupied cell a region-boundary path drains
    into), via ``rounds`` pointer-jumping rounds. The flow graph is
    acyclic BY CONSTRUCTION (an edge exists only under strict count
    descent, so counts strictly decrease along every path and no
    cycle can close), and pointer jumping doubles resolved depth per
    round — rounds=R covers descent chains up to 2^R long, and since
    chain length is bounded by the number of DISTINCT count levels
    (each hop strictly decreases the count), small R converges:
    callers verify with the rounds vs rounds+1 equality check, the
    bounded_paths/kcore discipline. Unoccupied terminals have no
    pointer row; the jump coalesces a missing parent to itself, so
    they behave as self-rooted — exactly sink semantics.

    Scale: d8_flow's cost plus R self-joins of the cell-sized
    pointer table (aggregate rows, not points), each
    materialize()'d for lineage truncation. -> (cell, basin)."""
    from pyspark.sql import functions as F

    from ..materialize import materialize
    f = d8_flow(tiles, res, cell_col=cell_col, count_col=count_col)
    ptr = materialize(f.select(
        F.col(cell_col).alias("_c"),
        F.expr(f"CASE WHEN is_sink = 1 THEN {cell_col} "
               "ELSE down_cell END").alias("_p")))
    for _ in range(int(rounds)):
        nxt = ptr.select(F.col("_c").alias("_pc"),
                         F.col("_p").alias("_pp"))
        ptr = materialize(
            ptr.join(nxt, ptr["_p"] == nxt["_pc"], "left")
               .select(F.col("_c"),
                       F.coalesce(F.col("_pp"), F.col("_p"))
                       .alias("_p")))
    return ptr.select(F.col("_c").alias(cell_col),
                      F.col("_p").alias("basin"))


def d8_basins_sql(counts_sql: str, res: int, rounds: int, *,
                  count_col: str = "n_docs") -> str:
    """DuckDB twin of d8_basins — d8_flow_sql nested, then the same
    fixed chain of pointer-jump stages (missing parent coalesces to
    self)."""
    stages = []
    for i in range(1, int(rounds) + 1):
        stages.append(
            f"bp{i} AS (SELECT a.cell, COALESCE(b.p, a.p) AS p "
            f"FROM bp{i - 1} a LEFT JOIN bp{i - 1} b "
            f"ON b.cell = a.p)")
    chain = ",\n".join(stages)
    chain = (chain + "\n") if chain else ""  # rounds=0: no stages
    comma = "," if stages else ""
    return f"""
WITH d8f AS (SELECT * FROM ({d8_flow_sql(counts_sql, res,
                                         count_col=count_col)})),
bp0 AS (SELECT cell, CASE WHEN is_sink = 1 THEN cell
        ELSE down_cell END AS p FROM d8f){comma}
{chain}SELECT cell, CAST(p AS BIGINT) AS basin FROM bp{int(rounds)}
"""


def cross_k(points, radii_udeg, *, id_col: str = "id",
            type_col: str = "ftype", lat_col: str = "lat",
            lon_col: str = "lon", res: int = 6):
    """Bivariate (cross-type) Ripley's-K numerator ladder — the
    multi-scale companion to colocation_pi's single-radius
    participation index: for every unordered pair of feature TYPES
    and every radius r in ``radii_udeg`` (ascending), the number of
    unordered cross-type point pairs within r (closed, squared
    lattice metric). Against the univariate pair_counts curve this
    says whether two types ATTRACT (cross-K above independence) or
    REPEL at each scale — the spatial-interaction fingerprint
    colocation mining ranks by at one r.

    Integer-exact and engine-identical: rides proximity_edges at the
    LARGEST radius (carry=type), each smaller rung a conditional sum
    over the same pair stream — one blocked join total, aggregate
    work per extra rung is one combinable SUM. Only type pairs with
    >= 1 pair at the largest radius appear; rungs fill with 0 for
    those pairs (the ladder unpivots from one aggregate row per type
    pair). -> (type_a, type_b, r_udeg, n_pairs), cumulative in r."""
    from pyspark.sql import functions as F
    radii = sorted(int(r) for r in radii_udeg)
    e = proximity_edges(points, radii[-1], id_col=id_col,
                        lat_col=lat_col, lon_col=lon_col, res=res,
                        keep_d2=True, carry=(type_col,))
    ta, tb = f"{type_col}_a", f"{type_col}_b"
    x = (e.filter(F.col(ta) != F.col(tb))
         .select(F.least(ta, tb).alias("_t1"),
                 F.greatest(ta, tb).alias("_t2"), "d2"))
    aggs = [F.coalesce(F.sum(F.expr(
        f"CASE WHEN d2 <= {r * r} THEN 1 ELSE 0 END")),
        F.lit(0)).cast("long").alias(f"_c{i}")
        for i, r in enumerate(radii)]
    one = x.groupBy("_t1", "_t2").agg(*aggs)
    stack = ", ".join(f"CAST({r} AS BIGINT), _c{i}"
                      for i, r in enumerate(radii))
    return one.selectExpr(
        "_t1 AS type_a", "_t2 AS type_b",
        f"stack({len(radii)}, {stack}) AS (r_udeg, n_pairs)")


def cross_k_sql(pts_sql: str, radii_udeg,
                type_col: str = "ftype") -> str:
    """DuckDB twin of cross_k over a subquery producing
    (id, lat, lon, {type_col}) — proximity_edges_sql at the largest
    radius, conditional sums, UNPIVOT via UNION ALL."""
    radii = sorted(int(r) for r in radii_udeg)
    pe = proximity_edges_sql(pts_sql, radii[-1], keep_d2=True,
                             carry=(type_col,))
    ta, tb = f"{type_col}_a", f"{type_col}_b"
    sums = ", ".join(
        f"COALESCE(SUM(CASE WHEN d2 <= {r * r} THEN 1 ELSE 0 END), 0)"
        f" AS c{i}" for i, r in enumerate(radii))
    rungs = "\nUNION ALL\n".join(
        f"SELECT type_a, type_b, CAST({r} AS BIGINT) AS r_udeg, "
        f"CAST(c{i} AS BIGINT) AS n_pairs FROM xk_one"
        for i, r in enumerate(radii))
    return f"""
WITH xk_pe AS ({pe}),
xk_x AS (SELECT LEAST({ta}, {tb}) AS type_a,
         GREATEST({ta}, {tb}) AS type_b, d2
         FROM xk_pe WHERE {ta} <> {tb}),
xk_one AS (SELECT type_a, type_b, {sums}
           FROM xk_x GROUP BY 1, 2)
{rungs}
"""


def basin_stats(tiles, res: int, rounds: int, *,
                cell_col: str = "cell", count_col: str = "n_docs"):
    """Zonal statistics over the d8 watershed decomposition — the
    region-level rollup that turns the per-cell flow field into a
    catchment table: per basin label (a d8_basins terminal), the
    member-cell count, the total event mass, and whether the basin
    is INTERIOR (its terminal is an occupied local-minimum sink) or
    drains off the occupied region's edge (terminal unoccupied).

    Scale: d8_basins' cost plus one basin-keyed combinable agg over
    the cell-sized label table and one left join against the
    occupied set for the interior flag.
    -> (basin, n_cells, total, interior 0/1)."""
    from pyspark.sql import functions as F
    t = tiles.select(F.col(cell_col).alias("_bc"),
                     F.col(count_col).alias("_bn"))
    b = d8_basins(tiles, res, rounds, cell_col=cell_col,
                  count_col=count_col)
    j = b.join(t, b[cell_col] == t["_bc"])
    g = (j.groupBy("basin")
         .agg(F.count(F.lit(1)).alias("n_cells"),
              F.sum("_bn").alias("total")))
    occ = t.select(F.col("_bc").alias("basin"),
                   F.lit(1).alias("_occ"))
    return (g.join(occ, "basin", "left")
            .select("basin", "n_cells",
                    F.col("total").cast("long").alias("total"),
                    F.coalesce(F.col("_occ"), F.lit(0))
                    .cast("long").alias("interior")))


def basin_stats_sql(counts_sql: str, res: int, rounds: int, *,
                    count_col: str = "n_docs") -> str:
    """DuckDB twin of basin_stats — d8_basins_sql nested, same
    rollup + interior flag."""
    return f"""
WITH bs_counts AS ({counts_sql}),
bs_b AS (SELECT * FROM ({d8_basins_sql(counts_sql, res, rounds,
                                       count_col=count_col)})),
bs_g AS (SELECT b.basin, COUNT(*) AS n_cells,
         SUM(c.{count_col}) AS total
         FROM bs_b b JOIN bs_counts c ON c.cell = b.cell
         GROUP BY 1)
SELECT g.basin, CAST(g.n_cells AS BIGINT) AS n_cells,
       CAST(g.total AS BIGINT) AS total,
       CAST(CASE WHEN o.cell IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS interior
FROM bs_g g LEFT JOIN bs_counts o ON o.cell = g.basin
"""


def slope_aspect(tiles, res: int, *, cell_col: str = "cell",
                 count_col: str = "n_docs"):
    """Horn's-method slope/aspect over the density raster — the map-
    algebra gradient pass of a DEM pipeline run on the count surface
    (reference scope: raster->vector tile aggregation; this is the
    3x3 focal derivative every terrain product starts from): per
    occupied cell, the integer Horn gradient

        gx = sum dx * (2 - |dy|) * nn    (east minus west, cardinal
        gy = sum dy * (2 - |dx|) * nn     neighbors weighted 2)

    over the full 3x3 neighborhood (the (0,0) term contributes 0 to
    both sums, so no exclusion predicate has to stay in sync across
    engines), plus slope2 = gx^2 + gy^2 (squared gradient magnitude
    — monotone in slope, integer-exact: no sqrt/atan to ulp-flip)
    and the DOWNSLOPE direction as a Bresenham octant label on
    (-gx, -gy) (_octant_case's axis/diagonal-exact sectors), 'FLAT'
    when the gradient vanishes.

    Neighbor semantics match d8_flow: unoccupied neighbors hold 0;
    longitude wraps; an off-grid latitude row KEEPS its weight with
    nn = 0 (NULL neighbor id -> left-join miss) — the elevation-0
    ocean convention, so border gradients tilt off the grid edge
    instead of silently renormalizing to a 6-cell stencil.

    Scale: one 9-way explode of AGGREGATE rows, one cell-keyed left
    join to fetch neighbor counts, one combinable groupBy on the
    center key — no window. -> (cell, n, gx, gy, slope2, aspect)."""
    from pyspark.sql import functions as F

    from .events import _octant_case
    n = 1 << res
    mask = n - 1
    t = tiles.select(F.col(cell_col).alias("_c"),
                     F.col(count_col).alias("_n"))
    x = F.col("_c").bitwiseAND(F.lit(mask))
    y = F.shiftright(F.col("_c"), res).bitwiseAND(F.lit(mask))
    nb = (t.withColumn("_dx", F.explode(F.sequence(F.lit(-1),
                                                   F.lit(1))))
           .withColumn("_dy", F.explode(F.sequence(F.lit(-1),
                                                   F.lit(1))))
           .withColumn("_ny", y + F.col("_dy"))
           .withColumn("_nb", F.when(
               (F.col("_ny") >= 0) & (F.col("_ny") < n),
               F.shiftleft(F.lit(res).cast("long"), 56)
               + F.shiftleft(F.col("_ny").cast("long"), res)
               + F.pmod(x + F.col("_dx"), F.lit(n)).cast("long"))))
    j = (nb.join(t.select(F.col("_c").alias("_nb"),
                          F.col("_n").alias("_nn_raw")),
                 "_nb", "left")
         .withColumn("_nn", F.coalesce(F.col("_nn_raw"), F.lit(0))
                     .cast("long")))
    g = (j.groupBy("_c", "_n")
         .agg(F.sum(F.col("_dx") * (F.lit(2) - F.abs(F.col("_dy")))
                    * F.col("_nn")).alias("gx"),
              F.sum(F.col("_dy") * (F.lit(2) - F.abs(F.col("_dx")))
                    * F.col("_nn")).alias("gy")))
    return g.select(
        F.col("_c").alias(cell_col), F.col("_n").alias("n"),
        F.col("gx").cast("long").alias("gx"),
        F.col("gy").cast("long").alias("gy"),
        (F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy"))
        .cast("long").alias("slope2"),
        F.expr("CASE WHEN gx = 0 AND gy = 0 THEN 'FLAT' ELSE "
               + _octant_case("-gx", "-gy") + " END").alias("aspect"))


def slope_aspect_sql(counts_sql: str, res: int, *,
                     count_col: str = "n_docs") -> str:
    """DuckDB twin of slope_aspect over a counts subquery
    (cell, ``count_col``) — same 3x3 lateral, same wrap/off-grid-0
    arithmetic, identical octant CASE text."""
    from .events import _octant_case
    n = 1 << res
    mask = n - 1
    x = "(c.cell & %d)" % mask
    y = "((c.cell // %d) & %d)" % (n, mask)
    oct_ = _octant_case("-gx", "-gy")
    return f"""
WITH sa_counts AS ({counts_sql}),
sa_nb AS (SELECT c.cell, c.{count_col} AS cn, dx.g AS dx, dy.g AS dy,
          CASE WHEN {y} + dy.g >= 0 AND {y} + dy.g < {n}
          THEN CAST({res} AS BIGINT) * {1 << 56}
               + ({y} + dy.g) * {n}
               + (({x} + dx.g) % {n} + {n}) % {n} END AS nb
          FROM sa_counts c, generate_series(-1, 1) dx(g),
          generate_series(-1, 1) dy(g)),
sa_j AS (SELECT b.cell, b.cn, b.dx, b.dy,
         COALESCE(c2.{count_col}, 0) AS nn
         FROM sa_nb b LEFT JOIN sa_counts c2 ON c2.cell = b.nb),
sa_g AS (SELECT cell, cn,
         SUM(dx * (2 - abs(dy)) * nn) AS gx,
         SUM(dy * (2 - abs(dx)) * nn) AS gy
         FROM sa_j GROUP BY 1, 2)
SELECT cell, CAST(cn AS BIGINT) AS n,
       CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
       CAST(gx * gx + gy * gy AS BIGINT) AS slope2,
       CASE WHEN gx = 0 AND gy = 0 THEN 'FLAT' ELSE {oct_} END
         AS aspect
FROM sa_g
"""


def flow_accum(tiles, res: int, doublings: int, *,
               cell_col: str = "cell", count_col: str = "n_docs"):
    """Flow accumulation over the d8 flow graph — the second classic
    hydrology raster after flow direction: per node, how many
    occupied cells drain THROUGH it (upstream count + itself when
    occupied). Stream networks are exactly the high-accumulation
    cells; on the density surface this ranks each cell by the mass
    of the density-descent tree rooted at it.

    The d8 edge set (u -> down(u), non-sink rows only) is acyclic by
    construction (strict count descent — d8_basins docstring), so
    the ancestor closure is computed by CLOSURE DOUBLING: A_1 = the
    edge set; A_{k+1} = distinct(A_k UNION A_k o A_k) — after k
    rounds A covers all descent paths up to length 2^k, and since
    path length is bounded by the number of distinct count levels,
    small k converges (callers verify with the k vs k+1 equality
    check, the d8_basins discipline). acc(c) = [c occupied] +
    |{u : (u, c) in A}|; the node set is the occupied cells plus the
    unoccupied terminals boundary paths drain into (n = 0 there,
    matching d8_flow's elevation-0 convention).

    Scale: d8_flow's cost plus ``doublings`` self-joins of the
    closure pair table — closure size is bounded by cells x max
    depth (aggregate rows x a small constant), each round
    materialize()'d for lineage truncation; log-depth rounds, not
    linear sweeps. -> (cell, n, acc)."""
    from pyspark.sql import functions as F

    from ..materialize import materialize
    f = materialize(d8_flow(tiles, res, cell_col=cell_col,
                            count_col=count_col))
    anc = materialize(
        f.filter(F.col("is_sink") == 0)
         .select(F.col(cell_col).alias("_u"),
                 F.col("down_cell").alias("_a")))
    for _ in range(int(doublings)):
        hop = anc.select(F.col("_u").alias("_hu"),
                         F.col("_a").alias("_ha"))
        ext = (anc.join(hop, anc["_a"] == hop["_hu"])
                  .select("_u", F.col("_ha").alias("_a")))
        anc = materialize(anc.unionByName(ext).distinct())
    nodes = (f.select(F.col(cell_col).alias("_nc"),
                      F.col("n").alias("_nn"))
             .unionByName(
                 f.filter(F.col("is_sink") == 0)
                  .select(F.col("down_cell").alias("_nc"),
                          F.lit(0).cast("long").alias("_nn"))
                  .distinct())
             .groupBy("_nc").agg(F.max("_nn").alias("_n")))
    ups = anc.groupBy(F.col("_a").alias("_nc")) \
             .agg(F.count(F.lit(1)).alias("_nup"))
    return (nodes.join(ups, "_nc", "left")
            .select(F.col("_nc").alias(cell_col),
                    F.col("_n").alias("n"),
                    (F.expr("CASE WHEN _n > 0 THEN 1 ELSE 0 END")
                     + F.coalesce(F.col("_nup"), F.lit(0)))
                    .cast("long").alias("acc")))


def flow_accum_sql(counts_sql: str, res: int, doublings: int, *,
                   count_col: str = "n_docs") -> str:
    """DuckDB twin of flow_accum — d8_flow_sql nested, the same
    fixed chain of closure-doubling stages, same node set and
    occupied-base arithmetic."""
    stages = []
    for i in range(1, int(doublings) + 1):
        stages.append(
            f"fa{i} AS (SELECT DISTINCT u, a FROM ("
            f"SELECT u, a FROM fa{i - 1} UNION ALL "
            f"SELECT x.u, y.a FROM fa{i - 1} x JOIN fa{i - 1} y "
            f"ON y.u = x.a))")
    chain = (",\n".join(stages) + ",\n") if stages else ""
    last = f"fa{int(doublings)}"
    return f"""
WITH fa_f AS (SELECT * FROM ({d8_flow_sql(counts_sql, res,
                                          count_col=count_col)})),
fa0 AS (SELECT cell AS u, down_cell AS a FROM fa_f
        WHERE is_sink = 0),
{chain}fa_nodes AS (SELECT cell, MAX(n) AS n FROM (
    SELECT cell, n FROM fa_f
    UNION ALL
    SELECT DISTINCT down_cell, 0 FROM fa_f WHERE is_sink = 0)
    GROUP BY cell),
fa_ups AS (SELECT a AS cell, COUNT(*) AS n_up FROM {last}
           GROUP BY 1)
SELECT d.cell, CAST(d.n AS BIGINT) AS n,
       CAST(CASE WHEN d.n > 0 THEN 1 ELSE 0 END
            + COALESCE(u.n_up, 0) AS BIGINT) AS acc
FROM fa_nodes d LEFT JOIN fa_ups u ON u.cell = d.cell
"""


def _vario_pair_frame(tiles, res: int, parent_steps: int,
                      maxlag: int, *, cell_col: str,
                      count_col: str):
    """Shared PBSM pair builder for the variogram family: the
    parent-blocked occupied-cell self-join, emitting per unordered
    in-range pair the squared wrapped distance (_d2), the squared
    value difference in DECIMAL(38,0) (_sq), and the wrapped
    |dx| / |dy| components (_adx, _ady) the directional variant
    classifies on. Extracted from semivariogram so the isotropic and
    anisotropic operators cannot drift."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode, cell_parent
    n = 1 << res
    mask = n - 1
    t = tiles.select(
        F.col(cell_col).alias("_c"),
        F.col(count_col).cast("long").alias("_v"),
        F.col(cell_col).bitwiseAND(F.lit(mask)).alias("_x"),
        F.shiftright(F.col(cell_col), res).bitwiseAND(F.lit(mask))
        .alias("_y"),
        cell_parent(cell_col, res, parent_steps).alias("_p"))
    left = (cell_neighbors_explode(
                t.select("_c", "_v", "_x", "_y",
                         F.col("_p").alias("cell")),
                res - parent_steps, ring=1)
            .select(F.col("_c").alias("_lc"), F.col("_v").alias("_lv"),
                    F.col("_x").alias("_lx"), F.col("_y").alias("_ly"),
                    F.col("_neighbor").alias("_jp")))
    right = t.select(F.col("_c").alias("_rc"), F.col("_v").alias("_rv"),
                     F.col("_x").alias("_rx"), F.col("_y").alias("_ry"),
                     F.col("_p").alias("_jp"))
    adx = F.abs(F.col("_lx") - F.col("_rx"))
    dx = F.least(adx, F.lit(n) - adx)
    dy = F.col("_ly") - F.col("_ry")
    return (left.join(right, "_jp")
            .filter(F.col("_lc") < F.col("_rc"))
            .select((dx * dx + dy * dy).alias("_d2"),
                    ((F.col("_lv") - F.col("_rv"))
                     * (F.col("_lv") - F.col("_rv")))
                    .cast("decimal(38,0)").alias("_sq"),
                    dx.alias("_adx"), F.abs(dy).alias("_ady"))
            .filter(F.col("_d2") <= F.lit(maxlag * maxlag)))


def semivariogram(tiles, res: int, lags_cells, *,
                  cell_col: str = "cell", count_col: str = "n_docs",
                  parent_steps: int | None = None):
    """Empirical semivariogram of the density raster — the
    geostatistics primitive under kriging and spatial-correlation
    diagnostics: for each distance class (lag, in CELL units at
    ``res``), gamma = sum (v_i - v_j)^2 / (2 N) over unordered
    occupied-cell pairs whose grid distance falls in the class.
    Positions are the integer (x, y) lattice coords of the cells
    (longitude wraps: dx = min(|x1-x2|, n - |x1-x2|)); distance
    classes are half-open shells (prev_lag^2, lag^2] compared in
    BIGINT — no sqrt anywhere. gamma is emitted as floor ppm
    (1e6 * sumsq div (2 N)); sumsq accumulates in DECIMAL(38,0)
    (counts^2 x pair-count overflows BIGINT at planetary scale, the
    bearing_hist lesson) but the OUTPUT always fits BIGINT.

    Scale: the pair join runs over AGGREGATE rows (occupied cells,
    not points) blocked on the parent cell at ``parent_steps`` up
    (chosen so max(lag) <= 2^parent_steps: any in-range pair's
    parents are Chebyshev-1 adjacent) — left side explodes over the
    3x3 parent ring via cell_neighbors_explode (wrap-residue dedup
    included), right side keys on its single parent, `cell_l <
    cell_r` keeps each unordered pair once. One equi-join + one
    shell-classified combinable agg. Empty shells are emitted with
    n_pairs = 0 and gamma NULL (the rung row is evidence the shell
    was MEASURED, not skipped).
    -> (lag_cells, n_pairs, gamma_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode, cell_parent
    lags = sorted(int(v) for v in lags_cells)
    maxlag = lags[-1]
    if parent_steps is None:
        parent_steps = max(1, (maxlag - 1).bit_length())
    if maxlag > (1 << parent_steps):
        raise ValueError("max lag exceeds one parent step")
    pairs = _vario_pair_frame(tiles, res, parent_steps, maxlag,
                              cell_col=cell_col,
                              count_col=count_col) \
        .select("_d2", "_sq")
    prev = [0] + lags[:-1]
    aggs = []
    for i, (lo, hi) in enumerate(zip(prev, lags)):
        shell = (F.col("_d2") > F.lit(lo * lo)) \
            & (F.col("_d2") <= F.lit(hi * hi))
        aggs.append(F.coalesce(
            F.sum(F.when(shell, F.lit(1)).otherwise(F.lit(0))),
            F.lit(0)).cast("long").alias(f"_n{i}"))
        aggs.append(F.sum(F.when(shell, F.col("_sq"))
                          .otherwise(F.lit(None))).alias(f"_s{i}"))
    one = pairs.agg(*aggs)
    stack = ", ".join(
        f"CAST({lag} AS BIGINT), _n{i}, "
        f"CASE WHEN _n{i} > 0 THEN CAST(_s{i} * 1000000 div "
        f"(2 * _n{i}) AS BIGINT) END"
        for i, lag in enumerate(lags))
    return one.selectExpr(
        f"stack({len(lags)}, {stack}) "
        f"AS (lag_cells, n_pairs, gamma_ppm)")


def semivariogram_sql(counts_sql: str, res: int, lags_cells, *,
                      count_col: str = "n_docs") -> str:
    """DuckDB twin of semivariogram over a counts subquery
    (cell, ``count_col``) — brute-force pair enumeration (oracle
    scale; the blocked join is the scale path), same wrapped lattice
    distance, same half-open shells, HUGEINT sum, floor-ppm gamma."""
    lags = sorted(int(v) for v in lags_cells)
    maxlag = lags[-1]
    n = 1 << res
    mask = n - 1
    prev = [0] + lags[:-1]
    rungs = []
    for i, (lo, hi) in enumerate(zip(prev, lags)):
        rungs.append(
            f"SELECT CAST({hi} AS BIGINT) AS lag_cells, "
            f"COALESCE(SUM(CASE WHEN d2 > {lo * lo} AND "
            f"d2 <= {hi * hi} THEN 1 ELSE 0 END), 0) AS n_pairs, "
            f"CAST(CASE WHEN COALESCE(SUM(CASE WHEN d2 > {lo * lo} "
            f"AND d2 <= {hi * hi} THEN 1 ELSE 0 END), 0) > 0 THEN "
            f"SUM(CASE WHEN d2 > {lo * lo} AND d2 <= {hi * hi} "
            f"THEN sq END) * 1000000 // (2 * SUM(CASE WHEN "
            f"d2 > {lo * lo} AND d2 <= {hi * hi} THEN 1 ELSE 0 "
            f"END)) END AS BIGINT) AS gamma_ppm FROM sv_pairs")
    ladder = " UNION ALL ".join(rungs)
    return f"""
WITH sv_c AS (SELECT cell, CAST({count_col} AS BIGINT) AS v,
              (cell & {mask}) AS x, ((cell // {n}) & {mask}) AS y
              FROM ({counts_sql})),
sv_pairs AS (SELECT
    least(abs(a.x - b.x), {n} - abs(a.x - b.x))
      * least(abs(a.x - b.x), {n} - abs(a.x - b.x))
      + (a.y - b.y) * (a.y - b.y) AS d2,
    CAST((a.v - b.v) * (a.v - b.v) AS HUGEINT) AS sq
    FROM sv_c a JOIN sv_c b ON a.cell < b.cell)
SELECT lag_cells, CAST(n_pairs AS BIGINT) AS n_pairs, gamma_ppm
FROM ({ladder})
"""


_EHS_CLASS_CASE = (
    "CASE WHEN n_hot = 0 THEN 'none' "
    "WHEN h_last = 1 AND n_hot = 1 THEN 'new' "
    "WHEN h_last = 1 AND s_mk > 0 THEN 'intensifying' "
    "WHEN h_last = 1 AND s_mk < 0 THEN 'cooling' "
    "WHEN h_last = 1 THEN 'persistent' "
    "WHEN s_mk < 0 THEN 'diminishing' "
    "ELSE 'sporadic' END")


def emerging_hotspots(points, res: int, *, us_col: str = "us",
                      lat_col: str = "lat", lon_col: str = "lon",
                      day_us: int = 86_400_000_000):
    """Emerging-hotspot classification — the space-time-cube verdict
    ('which tiles are heating up, which are cooling off') that
    composes the per-day hot test with the Mann-Kendall trend, in a
    fully INTEGER variant of the classic Gi*-plus-MK taxonomy: a
    cell-day is HOT iff its count strictly beats the day's mean over
    the dense cell set (n * C > T_d — cross-multiplied, no
    division), and each cell classifies from (n_hot, h_last, sign
    of MK S) via one shared CASE (_EHS_CLASS_CASE, same text in both
    engines):

        none / new (first-ever hot day is today) / intensifying /
        cooling (hot now, counts trending down) / persistent
        (hot now, flat trend) / diminishing (not hot now, trending
        down) / sporadic (was hot, not now, no downtrend).

    Rides _dense_daily_counts' gap-filled calendar (a zero-arrival
    day must be able to out-vote a spike in both the hot test and
    the trend) and cell_mk's pairwise BIGINT sign sum. Spans shorter
    than 2 days return the empty frame (no trend is defined — the
    cell_mk discipline).

    Scale: day totals are an m-row broadcast (one per day); the MK
    pair join runs over the DENSE AGGREGATE frame keyed on the cell
    (|cells| x m(m-1)/2 rows, policy-bounded m); one final cell agg.
    -> (cell, n_total, n_hot, h_last, s_mk, class)."""
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None or hi == lo:
        return (filled.select(
            "cell", F.col("n_events").alias("n_total"),
            F.lit(0).cast("long").alias("n_hot"),
            F.lit(0).cast("long").alias("h_last"),
            F.lit(0).cast("long").alias("s_mk"),
            F.lit("none").alias("class")).limit(0))
    daytot = filled.groupBy("day").agg(
        F.sum("n_events").alias("_t"),
        F.count(F.lit(1)).alias("_c"))
    h = (filled.join(F.broadcast(daytot), "day")
         .withColumn("_hot", F.expr(
             "CASE WHEN n_events * _c > _t THEN 1 ELSE 0 END")))
    per = h.groupBy("cell").agg(
        F.sum("n_events").cast("long").alias("n_total"),
        F.sum("_hot").cast("long").alias("n_hot"),
        F.max(F.expr(f"CASE WHEN day = {hi} THEN _hot ELSE 0 END"))
        .cast("long").alias("h_last"))
    a = filled.select("cell", F.col("day").alias("_di"),
                      F.col("n_events").alias("_yi"))
    b = filled.select("cell", F.col("day").alias("_dj"),
                      F.col("n_events").alias("_yj"))
    s = (a.join(b, "cell").filter(F.col("_di") < F.col("_dj"))
         .withColumn("_sgn", F.expr(
             "CASE WHEN _yj > _yi THEN 1 "
             "WHEN _yj < _yi THEN -1 ELSE 0 END"))
         .groupBy("cell").agg(F.sum("_sgn").cast("long")
                              .alias("s_mk")))
    return (per.join(s, "cell")
            .select("cell", "n_total", "n_hot", "h_last", "s_mk",
                    F.expr(_EHS_CLASS_CASE).alias("class")))


def emerging_hotspots_sql(pts_sql: str, res: int, *,
                          day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of emerging_hotspots — the same dense prologue,
    cross-multiplied hot test, pairwise sign sum, and the IDENTICAL
    class CASE text."""
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
daytot AS (SELECT day, SUM(n_events) AS t, COUNT(*) AS c
           FROM filled GROUP BY 1),
h AS (SELECT f.cell, f.day, f.n_events,
      CASE WHEN f.n_events * d.c > d.t THEN 1 ELSE 0 END AS hot
      FROM filled f JOIN daytot d USING (day)),
per AS (SELECT h.cell, CAST(SUM(h.n_events) AS BIGINT) AS n_total,
        CAST(SUM(h.hot) AS BIGINT) AS n_hot,
        CAST(MAX(CASE WHEN h.day = span.hi THEN h.hot ELSE 0 END)
             AS BIGINT) AS h_last
        FROM h, span GROUP BY 1),
mk AS (SELECT a.cell, CAST(SUM(
       CASE WHEN b.n_events > a.n_events THEN 1
            WHEN b.n_events < a.n_events THEN -1 ELSE 0 END)
       AS BIGINT) AS s_mk
       FROM filled a JOIN filled b
       ON a.cell = b.cell AND a.day < b.day
       GROUP BY 1)
SELECT per.cell, per.n_total, per.n_hot, per.h_last, mk.s_mk,
       {_EHS_CLASS_CASE} AS class
FROM per JOIN mk USING (cell), span WHERE span.hi > span.lo
"""


def cell_theil_sen(points, res: int, *, us_col: str = "us",
                   lat_col: str = "lat", lon_col: str = "lon",
                   day_us: int = 86_400_000_000):
    """Per-cell Theil-Sen slope over the dense daily count series —
    the ROBUST trend estimator that completes the trend triad
    (cell_trend = OLS level change, cell_mk = monotonicity verdict,
    this = outlier-proof ppm/day rate): the MEDIAN of all pairwise
    slopes (y_j - y_i)/(d_j - d_i), which a single spike day cannot
    yank (OLS breaks down at one bad point; Theil-Sen tolerates 29%
    contamination).

    Median selection over RATIONALS with no float anywhere: every
    pairwise slope maps to the exact integer key
    dy * (L div dx) = slope * L, with L = lcm(1 .. m-1) computed
    once from the shared m-day span (L div dx is exact by
    construction), so ordering by the BIGINT key IS ordering by the
    rational slope; the LOWER median (rank (P+1) div 2 of the
    P = m(m-1)/2 pairs — P is the same for every cell on the dense
    calendar) is then one row_number filter, and ties in the key
    carry equal slope values, so tie order can never change the
    selected VALUE. slope_upm = trunc(1e6 * key / L), sign-
    decomposed so Spark's trunc `div` and DuckDB's flooring `//`
    agree; the 1e6 * key product runs in DECIMAL(38,0)/HUGEINT.
    Spans beyond 41 days raise (L would overflow BIGINT) — bin the
    calendar coarser at policy level, the cell_mk m-bound argument.

    Scale: the same dense-aggregate pair join as cell_mk
    (|cells| x m(m-1)/2 rows, never points) + one cell-keyed
    window. Spans shorter than 2 days -> empty frame.
    -> (cell, n_total, slope_upm)."""
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None or hi == lo:
        return (filled.groupBy("cell")
                .agg(F.sum("n_events").alias("n_total"),
                     F.lit(0).cast("long").alias("slope_upm"))
                .limit(0))
    m = hi - lo + 1
    if m - 1 > 41:
        raise ValueError("span > 41 days: lcm key overflows BIGINT; "
                         "use coarser day_us bins")
    big_l = math.lcm(*range(1, m))
    p_pairs = m * (m - 1) // 2
    rank = (p_pairs + 1) // 2
    a = filled.select("cell", F.col("day").alias("_di"),
                      F.col("n_events").alias("_yi"))
    b = filled.select("cell", F.col("day").alias("_dj"),
                      F.col("n_events").alias("_yj"))
    pairs = (a.join(b, "cell").filter(F.col("_di") < F.col("_dj"))
             .withColumn("_key", F.expr(
                 f"(_yj - _yi) * ({big_l} div (_dj - _di))")))
    w = Window.partitionBy("cell").orderBy("_key")
    med = (pairs.withColumn("_rn", F.row_number().over(w))
           .filter(F.col("_rn") == rank))
    tot = filled.groupBy("cell").agg(
        F.sum("n_events").cast("long").alias("n_total"))
    num = "CAST(1000000 AS DECIMAL(38,0)) * _key"
    return (tot.join(med.select("cell", "_key"), "cell")
            .select("cell", "n_total", F.expr(
                f"CAST(CASE WHEN _key >= 0 THEN ({num}) div {big_l} "
                f"ELSE -((-({num})) div {big_l}) END AS BIGINT)")
                .alias("slope_upm")))


def cell_theil_sen_sql_for_span(pts_sql: str, res: int, m: int, *,
                                day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_theil_sen for a KNOWN m-day span: the
    gate computes m from the same parquet before rendering the SQL
    (tools/check_oracle replays queries at a fixed SF, so m is
    deterministic there); the WHERE span-guard makes a span mismatch
    return zero rows — a loud rows_match failure, never a silent
    reorder. Same integer key, lower-median row_number, sign-
    decomposed HUGEINT upm."""
    import math
    if m < 2 or m - 1 > 41:
        raise ValueError("m out of the supported [2, 42] span")
    big_l = math.lcm(*range(1, m))
    p_pairs = m * (m - 1) // 2
    rank = (p_pairs + 1) // 2
    num = "CAST(1000000 AS HUGEINT) * key"
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
ts_pairs AS (SELECT a.cell,
    (b.n_events - a.n_events) * ({big_l} // (b.day - a.day)) AS key
    FROM filled a JOIN filled b
    ON a.cell = b.cell AND a.day < b.day),
ts_med AS (SELECT cell, key FROM (
    SELECT cell, key, ROW_NUMBER() OVER (
        PARTITION BY cell ORDER BY key) AS rn FROM ts_pairs)
    WHERE rn = {rank}),
ts_tot AS (SELECT cell, CAST(SUM(n_events) AS BIGINT) AS n_total
           FROM filled GROUP BY 1)
SELECT t.cell, t.n_total,
       CAST(CASE WHEN m.key >= 0 THEN ({num}) // {big_l}
            ELSE -((-({num})) // {big_l}) END AS BIGINT)
         AS slope_upm
FROM ts_tot t JOIN ts_med m USING (cell), span
WHERE span.hi - span.lo + 1 = {m}
"""


def ht_breaks(tiles, rounds: int, *, cell_col: str = "cell",
              count_col: str = "n_docs"):
    """Head/tail-breaks classification of the density raster — the
    cartographer's class ladder for HEAVY-TAILED data (Jiang 2013),
    where equal-interval and quantile breaks both lie: split at the
    mean, keep the head (strictly above), split the head at ITS
    mean, repeat. A cell's level = how many successive head cuts it
    survived; city-block data yields the familiar 'few level-R
    peaks over a sea of level-0' hierarchy, and the level IS the
    zoom tier a tile renderer would label the cell at.

    The above-mean test is cross-multiplied (n * |set| > sum — no
    division, no floats); ``rounds`` is FIXED (no data-dependent
    driver loop): an empty head simply produces empty later stages,
    and cells never above a cut keep the level of the round they
    fell out. All-equal inputs put everything at level 0 (strict
    inequality: nothing beats the mean).

    Scale: per round, one 1-row aggregate crossJoined back (a
    broadcast scalar) + one filter over AGGREGATE rows,
    materialize()'d for lineage truncation; R rounds = R tiny
    barriers, no point-table pass after the initial counts.
    -> (cell, n, level 0..rounds)."""
    from pyspark.sql import functions as F

    from ..materialize import materialize
    cur = materialize(tiles.select(F.col(cell_col).alias("_c"),
                                   F.col(count_col).cast("long")
                                   .alias("_n")))
    parts = []
    for lvl in range(int(rounds)):
        stats = cur.agg(F.sum("_n").alias("_t"),
                        F.count(F.lit(1)).alias("_cnt"))
        j = cur.crossJoin(F.broadcast(stats))
        parts.append(j.filter(F.expr("_n * _cnt <= _t"))
                      .select("_c", "_n",
                              F.lit(lvl).cast("long").alias("level")))
        cur = materialize(j.filter(F.expr("_n * _cnt > _t"))
                          .select("_c", "_n"))
    parts.append(cur.select(
        "_c", "_n", F.lit(int(rounds)).cast("long").alias("level")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(F.col("_c").alias(cell_col),
                      F.col("_n").alias("n"), "level")


def ht_breaks_sql(counts_sql: str, rounds: int, *,
                  count_col: str = "n_docs") -> str:
    """DuckDB twin of ht_breaks — the same fixed chain of
    mean-cut stages (cross-multiplied test, strict head)."""
    stages = [f"ht0 AS (SELECT cell AS c, CAST({count_col} AS BIGINT)"
              f" AS n FROM ({counts_sql}))"]
    sels = []
    for lvl in range(int(rounds)):
        stages.append(
            f"hs{lvl} AS (SELECT SUM(n) AS t, COUNT(*) AS cnt "
            f"FROM ht{lvl})")
        stages.append(
            f"ht{lvl + 1} AS (SELECT h.c, h.n FROM ht{lvl} h, "
            f"hs{lvl} s WHERE h.n * s.cnt > s.t)")
        sels.append(
            f"SELECT h.c, h.n, CAST({lvl} AS BIGINT) AS level "
            f"FROM ht{lvl} h, hs{lvl} s WHERE h.n * s.cnt <= s.t")
    sels.append(f"SELECT c, n, CAST({int(rounds)} AS BIGINT) "
                f"AS level FROM ht{int(rounds)}")
    return ("WITH " + ",\n".join(stages) + "\nSELECT c AS cell, n, "
            "level FROM (" + " UNION ALL ".join(sels) + ")")


def quadrat_csr(points, res: int, *, lat_col: str = "lat",
                lon_col: str = "lon"):
    """Quadrat index-of-dispersion — the one-number CSR (complete
    spatial randomness) test under every point-pattern workflow:
    tile the WHOLE grid at ``res`` into N = 4^res quadrats and take
    the variance-to-mean ratio of per-quadrat counts,

        vmr_ppm = 1e6 * (N * sum c^2 - T^2)  div  ((N - 1) * T)

    (T = total points). Poisson scatter gives ~1e6; clumping pushes
    it up, regular spacing below. The single-fraction identity means
    NO intermediate rounding, the numerator is nonnegative by
    Cauchy-Schwarz (so div == floor in both engines), and EMPTY
    quadrats need no dense frame: they contribute 0 to sum c^2 and
    are priced into the constant N — the whole test is one
    map-side-combinable aggregate over occupied cells. Products run
    in DECIMAL(38,0)/HUGEINT (N * sum c^2 reaches ~1e28 at planetary
    counts). T = 0 returns an empty frame (no pattern, no verdict).
    -> one row (n_quadrats, n_pts, vmr_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    n_q = 1 << (2 * res)
    c = (points.groupBy(cell_encode(lat_col, lon_col, res)
                        .alias("_c"))
         .agg(F.count(F.lit(1)).alias("_n")))
    g = c.agg(
        F.sum("_n").cast("long").alias("_t"),
        F.sum(F.expr("CAST(_n AS DECIMAL(38,0)) * _n")).alias("_s2"))
    return (g.filter(F.col("_t") > 0)
            .select(F.lit(n_q).cast("long").alias("n_quadrats"),
                    F.col("_t").alias("n_pts"),
                    F.expr(f"CAST((CAST({n_q} AS DECIMAL(38,0)) * _s2"
                           f" - CAST(_t AS DECIMAL(38,0)) * _t) "
                           f"* 1000000 div "
                           f"(CAST({n_q - 1} AS DECIMAL(38,0)) * _t) "
                           f"AS BIGINT)").alias("vmr_ppm")))


def quadrat_csr_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of quadrat_csr over a subquery producing
    (lat, lon) — same single-fraction HUGEINT arithmetic."""
    from ..functions.cells import cell_encode_sql
    n_q = 1 << (2 * res)
    cell = cell_encode_sql("lat", "lon", res)
    return f"""
WITH qc_c AS (SELECT {cell} AS c, COUNT(*) AS n
              FROM ({pts_sql}) GROUP BY 1),
qc_g AS (SELECT CAST(SUM(n) AS BIGINT) AS t,
         SUM(CAST(n AS HUGEINT) * n) AS s2 FROM qc_c)
SELECT CAST({n_q} AS BIGINT) AS n_quadrats, t AS n_pts,
       CAST((CAST({n_q} AS HUGEINT) * s2
             - CAST(t AS HUGEINT) * t) * 1000000
            // (CAST({n_q - 1} AS HUGEINT) * t) AS BIGINT)
         AS vmr_ppm
FROM qc_g WHERE t > 0
"""


def geary_c(points, res: int, *, lat_col: str = "lat",
            lon_col: str = "lon"):
    """Global Geary's C over the per-cell count raster — the
    squared-DIFFERENCE complement of moran_i (same binary queen
    contiguity on OCCUPIED cells, same wrap/clamp convention):
    C = (N-1) sum_ij w_ij (x_i-x_j)^2 / (2W sum_i (x_i-xbar)^2);
    ~1 = random, <1 = clustered, >1 = checkerboard. Where Moran's I
    is a cross-PRODUCT statistic (dominated by extremes), Geary's C
    is pair-local — the standard second opinion on the same surface.

    Integer-exact via the same dev_i = N*x_i - T trick: x_i - x_j =
    (dev_i - dev_j)/N and sum (x_i-xbar)^2 = M2/N^2, so the N^2
    cancels and geary_ppm = trunc(1e6 * (N-1) * SD / (2 * W * M2))
    with SD = sum over ordered neighbor pairs (dev_i - dev_j)^2 and
    M2 = sum dev_i^2. dev is BIGINT; squares and sums run in
    DECIMAL(38,0)/HUGEINT (headroom: 1e6*N*SD needs N*W*dev^2 <
    1e32 — holds to ~1e9 occupied cells at 1e9 max count; beyond
    that drop the ppm scale to ppk). Both orders of each pair are
    counted in SD and W (the ratio is identical to once-per-pair).
    NULL geary_ppm when W = 0 or M2 = 0 (constant surface).

    Scale: identical shape to moran_i — one map-side-combinable
    point pass, then aggregate-row machinery only (broadcast 1-row
    stats, 9-way ring explode, one cell-keyed join, scalar aggs).
    -> one row (n_cells, w_pairs, geary_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    counts = tile_counts(points, res, lat_col=lat_col, lon_col=lon_col)
    stats = counts.agg(F.count(F.lit(1)).alias("_nc"),
                       F.sum("n_docs").alias("_t"))
    d = (counts.crossJoin(F.broadcast(stats))
         .select("cell",
                 (F.col("_nc") * F.col("n_docs") - F.col("_t"))
                 .alias("_dev"), "_nc"))
    right = d.select(F.col("cell").alias("_neighbor"),
                     F.col("_dev").alias("_dev_j"))
    pairs = (cell_neighbors_explode(d.select("cell", "_dev"), res,
                                    ring=1)
             .filter(F.col("_neighbor") != F.col("cell"))
             .join(right, "_neighbor", "inner"))
    pr = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.sum((F.col("_dev") - F.col("_dev_j")).cast("decimal(38,0)")
              * (F.col("_dev") - F.col("_dev_j"))).alias("_sd"))
    m = d.agg(F.max("_nc").alias("n_cells"),
              F.sum(F.col("_dev").cast("decimal(38,0)")
                    * F.col("_dev")).alias("_m2"))
    return (m.crossJoin(pr)
            .select(F.col("n_cells").cast("long").alias("n_cells"),
                    F.col("w_pairs").cast("long").alias("w_pairs"),
                    F.expr("CASE WHEN w_pairs = 0 OR _m2 = 0 "
                           "THEN CAST(NULL AS BIGINT) ELSE "
                           "(CAST(n_cells - 1 AS DECIMAL(38,0)) "
                           "* _sd * 1000000) div (2 * CAST(w_pairs "
                           "AS DECIMAL(38,0)) * _m2) END")
                    .alias("geary_ppm")))


def geary_c_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of geary_c over a subquery producing (lat, lon).
    The ppm numerator is nonnegative (squared differences), so
    HUGEINT // equals Spark's decimal div with no sign split."""
    from ..functions.cells import cell_encode_sql, cell_neighbors_sql
    cell = cell_encode_sql("lat", "lon", res)
    nb = cell_neighbors_sql("a.cell", res, 1)
    return f"""
WITH counts AS (SELECT {cell} AS cell, COUNT(*) AS n
                FROM ({pts_sql}) GROUP BY 1),
st AS (SELECT COUNT(*) AS nc, CAST(SUM(n) AS BIGINT) AS t
       FROM counts),
d AS (SELECT cell, CAST(st.nc * counts.n - st.t AS BIGINT) AS dev
      FROM counts, st),
pr AS (SELECT COUNT(b.cell) AS w,
       COALESCE(SUM(CAST(a.dev - b.dev AS HUGEINT)
                    * (a.dev - b.dev)), 0) AS sd
       FROM d a, LATERAL ({nb}) nb, d b
       WHERE nb.neighbor = b.cell AND nb.neighbor <> a.cell),
m AS (SELECT CAST(SUM(CAST(dev AS HUGEINT) * dev) AS HUGEINT) AS m2
      FROM d)
SELECT CAST(st.nc AS BIGINT) AS n_cells,
       CAST(pr.w AS BIGINT) AS w_pairs,
       CAST(CASE WHEN pr.w = 0 OR m.m2 = 0 THEN NULL
            ELSE (CAST(st.nc - 1 AS HUGEINT) * pr.sd * 1000000)
                 // (2 * CAST(pr.w AS HUGEINT) * m.m2) END
            AS BIGINT) AS geary_ppm
FROM st, pr, m
"""


def join_counts(points, res: int, *, lat_col: str = "lat",
                lon_col: str = "lon"):
    """Binary join-count statistics over the occupied-cell lattice —
    the categorical sibling of moran_i/geary_c: classify each
    occupied cell HIGH (N*x_i > T, i.e. count above the mean) or
    LOW, then count adjacent HH / LL / HL pairs under the same queen
    contiguity. Clustering shows as HH+LL above the CSR share of
    W; a checkerboard as HL dominance. Pure integer counting — no
    division at all, so the oracle is exact by construction. Pairs
    are reported ONCE each (ordered-pair tally halved; W even by
    symmetry). -> one row (n_cells, n_high, hh, ll, hl, w_pairs)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    counts = tile_counts(points, res, lat_col=lat_col, lon_col=lon_col)
    stats = counts.agg(F.count(F.lit(1)).alias("_nc"),
                       F.sum("n_docs").alias("_t"))
    d = (counts.crossJoin(F.broadcast(stats))
         .select("cell",
                 (F.col("_nc") * F.col("n_docs") > F.col("_t"))
                 .cast("int").alias("_hi"), "_nc"))
    right = d.select(F.col("cell").alias("_neighbor"),
                     F.col("_hi").alias("_hi_j"))
    pairs = (cell_neighbors_explode(d.select("cell", "_hi"), res,
                                    ring=1)
             .filter(F.col("_neighbor") != F.col("cell"))
             .join(right, "_neighbor", "inner"))
    pr = pairs.agg(
        F.expr("count(1) div 2").alias("w_pairs"),
        F.expr("sum(_hi * _hi_j) div 2").alias("hh"),
        F.expr("sum((1 - _hi) * (1 - _hi_j)) div 2").alias("ll"))
    m = d.agg(F.max("_nc").alias("n_cells"),
              F.sum("_hi").alias("n_high"))
    return (m.crossJoin(pr)
            .select(F.col("n_cells").cast("long").alias("n_cells"),
                    F.col("n_high").cast("long").alias("n_high"),
                    F.coalesce("hh", F.lit(0)).alias("hh"),
                    F.coalesce("ll", F.lit(0)).alias("ll"),
                    (F.col("w_pairs") - F.coalesce("hh", F.lit(0))
                     - F.coalesce("ll", F.lit(0))).alias("hl"),
                    F.col("w_pairs")))


def join_counts_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of join_counts over a subquery producing
    (lat, lon) — same once-per-pair halving of the ordered tally."""
    from ..functions.cells import cell_encode_sql, cell_neighbors_sql
    cell = cell_encode_sql("lat", "lon", res)
    nb = cell_neighbors_sql("a.cell", res, 1)
    return f"""
WITH counts AS (SELECT {cell} AS cell, COUNT(*) AS n
                FROM ({pts_sql}) GROUP BY 1),
st AS (SELECT COUNT(*) AS nc, CAST(SUM(n) AS BIGINT) AS t
       FROM counts),
d AS (SELECT cell,
      CAST(CASE WHEN st.nc * counts.n > st.t THEN 1 ELSE 0 END
           AS BIGINT) AS hi
      FROM counts, st),
pr AS (SELECT CAST(COUNT(b.cell) // 2 AS BIGINT) AS w,
       CAST(COALESCE(SUM(a.hi * b.hi), 0) // 2 AS BIGINT) AS hh,
       CAST(COALESCE(SUM((1 - a.hi) * (1 - b.hi)), 0) // 2
            AS BIGINT) AS ll
       FROM d a, LATERAL ({nb}) nb, d b
       WHERE nb.neighbor = b.cell AND nb.neighbor <> a.cell),
m AS (SELECT CAST(st.nc AS BIGINT) AS n_cells,
      CAST(SUM(hi) AS BIGINT) AS n_high FROM d, st
      GROUP BY st.nc)
SELECT m.n_cells, m.n_high, pr.hh, pr.ll,
       pr.w - pr.hh - pr.ll AS hl, pr.w AS w_pairs
FROM m, pr
"""


def gi_star(points, res: int, *, lat_col: str = "lat",
            lon_col: str = "lon"):
    """Getis-Ord Gi* per occupied cell — the hotspot Z-SCORE the
    ESDA family still lacked: where lisa_cells asks "does my
    deviation co-vary with my neighbors'", Gi* asks "is my
    NEIGHBORHOOD SUM (self included — the star variant) larger than
    chance": z_i = (S_i - xbar W_i) / (S sqrt((N W_i - W_i^2)/(N-1)))
    with binary queen ring-1 weights over occupied cells, W_i the
    neighborhood size incl self, S_i its count sum.

    Integer-exact by squaring: z_i^2 is rational —
        z2 = (N-1) * (N S_i - W_i T)^2
             / ((N Q - T^2) * (W_i (N - W_i)))
    (Q = sum x^2; multiply num and den by N^2 — the mean's and
    variance's denominators cancel). Emitted as
    gi2_ppm = sign(N S_i - W_i T) * (1e6 * z2) with the nonnegative
    part truncated by decimal `div` (== DuckDB HUGEINT //), the
    signed square preserving hot/cold direction: |gi2_ppm| >=
    ~2.7e6 is the classic |z| >= 1.645 hot/cold call at 90%. NULL
    when N*Q = T^2 (constant surface) or W_i = N (a neighborhood
    swallowing every occupied cell: zero variance). Headroom:
    1e6 * N * (N * 9 * max)^2 < 1e38 holds past 1e6 occupied cells
    at 1e6 max count.

    Scale: one map-side-combinable point pass to counts, broadcast
    1-row stats (N, T, Q), the 9-way ring explode with NO
    self-exclusion (the star), ONE cell-keyed join + cell agg —
    moran_i's exact shuffle shape. -> (cell, n_pts, w_i, s_i,
    gi2_ppm), one row per occupied cell."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    counts = tile_counts(points, res, lat_col=lat_col, lon_col=lon_col)
    right = counts.select(F.col("cell").alias("_neighbor"),
                          F.col("n_docs").alias("_n_j"))
    nbh = (cell_neighbors_explode(counts.select("cell"), res, ring=1)
           .join(right, "_neighbor", "inner")
           .groupBy("cell")
           .agg(F.count(F.lit(1)).alias("w_i"),
                F.sum("_n_j").alias("s_i")))
    stats = counts.agg(
        F.count(F.lit(1)).alias("_nc"),
        F.sum("n_docs").alias("_t"),
        F.sum(F.col("n_docs").cast("decimal(38,0)")
              * F.col("n_docs")).alias("_q"))
    return (counts.join(nbh, "cell", "inner")
            .crossJoin(F.broadcast(stats))
            .select(
                "cell", F.col("n_docs").cast("long").alias("n_pts"),
                F.col("w_i").cast("long").alias("w_i"),
                F.col("s_i").cast("long").alias("s_i"),
                F.expr(
                    "CASE WHEN _nc * _q = CAST(_t AS DECIMAL(38,0)) "
                    "* _t OR w_i = _nc THEN CAST(NULL AS BIGINT) "
                    "ELSE CAST(SIGN(_nc * s_i - w_i * _t) AS BIGINT)"
                    " * ((CAST(_nc - 1 AS DECIMAL(38,0)) * 1000000 "
                    "* (CAST(_nc * s_i - w_i * _t AS DECIMAL(38,0)) "
                    "* (_nc * s_i - w_i * _t))) div "
                    "((_nc * _q - CAST(_t AS DECIMAL(38,0)) * _t) "
                    "* (CAST(w_i AS DECIMAL(38,0)) * (_nc - w_i)))) "
                    "END").alias("gi2_ppm")))


def gi_star_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of gi_star over a subquery producing (lat, lon) —
    same signed-square identity; the div numerator is nonnegative
    (a square), so HUGEINT // equals Spark's decimal div."""
    from ..functions.cells import cell_encode_sql, cell_neighbors_sql
    cell = cell_encode_sql("lat", "lon", res)
    nb = cell_neighbors_sql("a.cell", res, 1)
    return f"""
WITH counts AS (SELECT {cell} AS cell, COUNT(*) AS n
                FROM ({pts_sql}) GROUP BY 1),
st AS (SELECT COUNT(*) AS nc, CAST(SUM(n) AS BIGINT) AS t,
       CAST(SUM(CAST(n AS HUGEINT) * n) AS HUGEINT) AS q
       FROM counts),
nbh AS (SELECT a.cell, COUNT(*) AS w, CAST(SUM(b.n) AS BIGINT) AS s
        FROM counts a, LATERAL ({nb}) nb, counts b
        WHERE nb.neighbor = b.cell GROUP BY 1)
SELECT counts.cell, CAST(counts.n AS BIGINT) AS n_pts,
       CAST(nbh.w AS BIGINT) AS w_i, nbh.s AS s_i,
       CAST(CASE WHEN st.nc * st.q = CAST(st.t AS HUGEINT) * st.t
                 OR nbh.w = st.nc THEN NULL
            ELSE CAST(CASE WHEN st.nc * nbh.s < nbh.w * st.t
                      THEN -1 ELSE 1 END AS HUGEINT)
                 * ((CAST(st.nc - 1 AS HUGEINT) * 1000000
                     * (CAST(st.nc * nbh.s - nbh.w * st.t
                             AS HUGEINT)
                        * (st.nc * nbh.s - nbh.w * st.t)))
                    // ((st.nc * st.q
                         - CAST(st.t AS HUGEINT) * st.t)
                        * (CAST(nbh.w AS HUGEINT)
                           * (st.nc - nbh.w)))) END
            AS BIGINT) AS gi2_ppm
FROM counts JOIN nbh ON counts.cell = nbh.cell, st
"""


def lq_cells(points, res: int, *, label_col: str = "ftype",
             lat_col: str = "lat", lon_col: str = "lon"):
    """Location quotient per (cell, category) — the classic
    'where is category k over-represented' concentration map
    (regional-science LQ, the retail/industry siting staple):

        LQ = (n_ck / n_c) / (N_k / N)

    local share over global share; > 1 = the cell specializes in k.
    Emitted integer-exact as lq_ppm = (n_ck * N * 1e6) div
    (n_c * N_k) — all terms positive so truncating div == floor in
    both engines; DECIMAL(38,0)/HUGEINT products keep headroom to
    N ~ 1e12 points (n*N*1e6 overflows BIGINT past ~1e9).

    Scale: ONE map-side-combinable point pass to (cell, k, n) —
    the ONLY scan of the input (a naive side-aggregate formulation
    rescans the points once per total: Catalyst collapses
    agg-over-agg back onto the base table, and column pruning then
    defeats exchange reuse — measured 5 scans -> 1 here). Every
    total is then a window SUM over the |cells x K| AGGREGATE
    frame; Catalyst orders the grand-total window first, so the
    whole post-scan tail is exactly TWO exchanges ((cell, k)
    combine + one single-partition hop) and the cell/category
    windows run as sorts on the collapsed frame. The one-task tail
    is bounded by cells x K aggregate rows (~1e6 at res 7), never
    by input rows. -> (cell, <label_col>, n_events, cell_total,
    lq_ppm)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    ct = (points
          .withColumn("cell", cell_encode(lat_col, lon_col, res))
          .groupBy("cell", label_col)
          .agg(F.count(F.lit(1)).alias("n_events")))
    ct = (ct
          .withColumn("cell_total", F.sum("n_events").over(
              Window.partitionBy("cell")))
          .withColumn("_n_k", F.sum("n_events").over(
              Window.partitionBy(label_col)))
          .withColumn("_n", F.sum("n_events").over(
              Window.partitionBy())))
    return (ct
            .select("cell", label_col,
                    F.col("n_events").cast("long").alias("n_events"),
                    F.col("cell_total").cast("long")
                    .alias("cell_total"),
                    F.expr("(CAST(n_events AS DECIMAL(38,0)) * _n "
                           "* 1000000) div "
                           "(CAST(cell_total AS DECIMAL(38,0)) "
                           "* _n_k)").cast("long").alias("lq_ppm")))


def lq_cells_sql(pts_sql: str, res: int, *,
                 label_sql: str = "ftype") -> str:
    """DuckDB twin of lq_cells over a subquery producing
    (lat, lon, <label>) — same positive truncating division."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return f"""
WITH ct AS (SELECT {cell} AS cell, {label_sql} AS k,
            COUNT(*) AS n FROM ({pts_sql}) GROUP BY 1, 2),
cellt AS (SELECT cell, CAST(SUM(n) AS BIGINT) AS n_c
          FROM ct GROUP BY 1),
typet AS (SELECT k, CAST(SUM(n) AS BIGINT) AS n_k FROM ct GROUP BY 1),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM ct)
SELECT ct.cell, ct.k AS {label_sql},
       CAST(ct.n AS BIGINT) AS n_events,
       cellt.n_c AS cell_total,
       CAST((CAST(ct.n AS HUGEINT) * tot.t * 1000000)
            // (CAST(cellt.n_c AS HUGEINT) * typet.n_k)
            AS BIGINT) AS lq_ppm
FROM ct JOIN cellt USING (cell) JOIN typet USING (k), tot
"""


def viewshed_k(tiles, res: int, k: int, *, cell_col: str = "cell",
               count_col: str = "n_docs"):
    """Bounded viewshed over the density raster — the visibility
    primitive on the count-as-elevation surface: from each occupied
    cell, how many occupied cells within ``k`` steps along the 8
    principal rays have an unobstructed line of sight. A target at
    step s (height h_t, observer h_o) is VISIBLE iff every occupied
    intermediate j < s on the same ray keeps a strictly smaller
    elevation angle:

        (h_j - h_o) * s  <  (h_t - h_o) * j      for all j < s

    — the classic DEM viewshed test with the fractions cross-
    multiplied into exact BIGINT (s, j > 0 so the inequality
    direction is stable; no libm, no doubles). Unoccupied cells
    (height 0 in the DEM analogy) can never block an occupied
    target: the grazing angle -h_o/j is always below the target's
    (h_t - h_o)/s for h_t >= 1 — so the ray frame inner-joins the
    occupied raster and missing steps drop out for free, exactly
    d8_flow's ocean-cell convention. Longitude wraps, latitude
    clamps (the lattice contract); wrap-degenerate rays at coarse
    grids (a ray circling onto its origin) are disarmed by counting
    DISTINCT visible target cells and excluding the origin itself.

    Scale: everything runs on AGGREGATE rows — an 8 x k explode of
    the raster, one cell-keyed inner join for ray heights, one
    bounded (<= k x k per ray) self-join on the (origin, ray) key
    for the prefix test, two groupBys. The ray self-join is CPU-
    bound on byte-tiny shuffle inputs — the AQE coalesce trap — so
    the ray frame is pinned one-partition-per-core on its join key.
    -> (cell, n, n_visible)."""
    from pyspark.sql import functions as F
    n = 1 << res
    mask = n - 1
    t = tiles.select(F.col(cell_col).alias("_o"),
                     F.col(count_col).alias("_ho"))
    x = F.col("_o").bitwiseAND(F.lit(mask))
    y = F.shiftright(F.col("_o"), res).bitwiseAND(F.lit(mask))
    rays = (t
            .withColumn("_dx", F.explode(F.sequence(F.lit(-1),
                                                    F.lit(1))))
            .withColumn("_dy", F.explode(F.sequence(F.lit(-1),
                                                    F.lit(1))))
            .filter("NOT (_dx = 0 AND _dy = 0)")
            .withColumn("_s", F.explode(F.sequence(F.lit(1),
                                                   F.lit(int(k)))))
            .withColumn("_nx", F.pmod(x + F.col("_dx") * F.col("_s"),
                                      F.lit(n)))
            .withColumn("_ny", y + F.col("_dy") * F.col("_s"))
            .filter((F.col("_ny") >= 0) & (F.col("_ny") < n))
            .withColumn("_tc",
                        F.shiftleft(F.lit(res).cast("long"),
                                    _cells._RES_SHIFT)
                        + F.shiftleft(F.col("_ny").cast("long"), res)
                        + F.col("_nx").cast("long"))
            .filter(F.col("_tc") != F.col("_o"))
            .withColumn("_d", F.col("_dx") * 4 + F.col("_dy"))
            .select("_o", "_ho", "_d", "_s", "_tc"))
    hj = (rays.join(t.select(F.col("_o").alias("_tc"),
                             F.col("_ho").alias("_h")), "_tc")
          .select("_o", "_ho", "_d", "_s", "_tc", "_h"))
    p = hj.sparkSession.sparkContext.defaultParallelism
    hj = hj.repartition(p, "_o", "_d")
    blk = hj.select(F.col("_o"), F.col("_d"),
                    F.col("_s").alias("_j"), F.col("_h").alias("_hj"))
    vio = (hj.join(blk, ["_o", "_d"])
           .filter(F.col("_j") < F.col("_s"))
           .filter((F.col("_hj") - F.col("_ho")) * F.col("_s")
                   >= (F.col("_h") - F.col("_ho")) * F.col("_j"))
           .select("_o", "_d", "_s").distinct())
    vis = (hj.join(vio, ["_o", "_d", "_s"], "left_anti")
           .groupBy("_o")
           .agg(F.countDistinct("_tc").alias("n_visible")))
    return (t.join(vis, "_o", "left")
            .select(F.col("_o").alias(cell_col),
                    F.col("_ho").cast("long").alias("n"),
                    F.coalesce("n_visible", F.lit(0)).cast("long")
                    .alias("n_visible")))


def viewshed_k_sql(counts_sql: str, res: int, k: int, *,
                   count_col: str = "n_docs") -> str:
    """DuckDB twin of viewshed_k over a counts subquery (cell,
    ``count_col``) — same wrap/clamp ray lattice, same cross-
    multiplied strict test, anti-join via NOT EXISTS."""
    n = 1 << res
    mask = n - 1
    shift_base = 1 << _cells._RES_SHIFT
    return f"""
WITH vs_t AS (SELECT cell AS o, {count_col} AS ho
              FROM ({counts_sql})),
vs_rays AS (SELECT t.o, t.ho, dx.g * 4 + dy.g AS d, s.g AS s,
    CAST({res} AS BIGINT) * {shift_base}
      + ((((t.o // {n}) & {mask}) + dy.g * s.g)) * {n}
      + (((t.o & {mask}) + dx.g * s.g) % {n} + {n}) % {n} AS tc
    FROM vs_t t, generate_series(-1, 1) dx(g),
         generate_series(-1, 1) dy(g), generate_series(1, {int(k)}) s(g)
    WHERE NOT (dx.g = 0 AND dy.g = 0)
      AND ((t.o // {n}) & {mask}) + dy.g * s.g >= 0
      AND ((t.o // {n}) & {mask}) + dy.g * s.g < {n}),
vs_h AS (SELECT r.o, r.ho, r.d, r.s, r.tc, t2.ho AS h
         FROM vs_rays r JOIN vs_t t2 ON t2.o = r.tc
         WHERE r.tc <> r.o),
vs_vis AS (SELECT a.o, COUNT(DISTINCT a.tc) AS n_visible
    FROM vs_h a WHERE NOT EXISTS (
        SELECT 1 FROM vs_h b
        WHERE b.o = a.o AND b.d = a.d AND b.s < a.s
          AND (b.h - b.ho) * a.s >= (a.h - a.ho) * b.s)
    GROUP BY a.o)
SELECT t.o AS cell, CAST(t.ho AS BIGINT) AS n,
       CAST(COALESCE(v.n_visible, 0) AS BIGINT) AS n_visible
FROM vs_t t LEFT JOIN vs_vis v ON v.o = t.o
"""


def huff_shares(points, seeds, *, seed_col: str = "seed_id",
                w_col: str = "w", lat_col: str = "lat",
                lon_col: str = "lon", slat_col: str = "lat",
                slon_col: str = "lon"):
    """Huff gravity market capture — the probabilistic sibling of
    voronoi_counts: each point patronizes facility j with probability
    proportional to attractiveness over squared distance,

        P_ij = (w_j / (d2_ij + 1))  /  sum_k (w_k / (d2_ik + 1))

    (the +1 regularizes a point sitting exactly on a seed; exponent 2
    is the classic Huff deterrence and is exact on the µdeg lattice
    with no libm). Per facility: expected patronage in ppm-points
    (sum of the per-point shares) and the count of points whose TOP
    choice it is — trade-area analysis where Voronoi's hard nearest
    assignment is wrong because a big mall outdraws a close kiosk.

    Cross-engine exactness: per (point, seed) q = (1e18 * w) div
    (d2 + 1) in DECIMAL(38,0)/HUGEINT (1e18 keeps antipodal d2 ~
    1.6e17 above zero mass), per-point total = sum q, share_ppm =
    (1e6 * q) div total — floored at both steps, identically in both
    engines; top choice is MIN over (-q, sid) structs so the tie
    rule is part of the ordering. An all-zero q vector is impossible
    at this scale (q >= 5 even antipodal at w = 1) but guarded to
    share 0 anyway. q lands in BIGINT (Spark's decimal `div` returns
    long), so attractiveness weights must stay <= 9 — rescale
    heavier weight columns upstream.

    Scale: seeds are aggregate-sized by contract — collected into ONE
    array row and broadcast; q/total/share/top are per-row array
    transforms, MAP-ONLY (the voronoi_counts rule: no point-keyed
    exchange carries the k-fold expansion); the k-fold explode feeds
    a seed-keyed agg whose map-side combine collapses each partition
    to <= k rows before the only exchange.
    -> (seed_id, w, n_top, share_ppm)."""
    from pyspark.sql import functions as F

    def ix(c):
        return F.expr(f"CAST(floor({c} * 1000000.0) AS BIGINT)")

    p = points.select(ix(lon_col).alias("_px"),
                      ix(lat_col).alias("_py"))
    sarr = (seeds.select(F.struct(
        F.col(seed_col).alias("sid"), F.col(w_col).alias("w"),
        ix(slon_col).alias("sx"), ix(slat_col).alias("sy"))
        .alias("_s"))
        .agg(F.collect_list("_s").alias("_seeds")))
    q = (p.join(F.broadcast(sarr))
         .select(F.expr(
             "transform(_seeds, s -> struct(s.sid AS sid, "
             "s.w AS w, "
             "(CAST(1000000000000000000 AS DECIMAL(38,0)) * s.w) div "
             "((_px - s.sx) * (_px - s.sx) "
             "+ (_py - s.sy) * (_py - s.sy) + 1) AS q))").alias("_q"))
         .withColumn("_tot", F.expr(
             "aggregate(_q, CAST(0 AS DECIMAL(38,0)), "
             "(a, x) -> a + x.q)"))
         .withColumn("_top", F.expr(
             "array_min(transform(_q, x -> "
             "struct(-x.q AS nq, x.sid AS sid))).sid")))
    ex = q.select(F.col("_top"), F.explode("_q").alias("_x"),
                  F.col("_tot"))
    return (ex.groupBy(F.col("_x.sid").alias(seed_col))
            .agg(F.max("_x.w").alias("w"),
                 F.sum(F.when(F.col("_top") == F.col("_x.sid"), 1)
                       .otherwise(0)).cast("long").alias("n_top"),
                 F.sum(F.expr(
                     "CASE WHEN _tot = 0 THEN CAST(0 AS BIGINT) "
                     "ELSE CAST((1000000 * CAST(_x.q AS "
                     "DECIMAL(38,0))) div _tot AS BIGINT) "
                     "END")).cast("long").alias("share_ppm")))


def huff_shares_sql(pts_sql: str, seeds_sql: str) -> str:
    """DuckDB twin of huff_shares over subqueries producing
    (lat, lon) and (seed_id, w, lat, lon) — cross join + per-point
    window total and struct-min top choice, HUGEINT floors."""
    return f"""
WITH hf_p AS (SELECT ROW_NUMBER() OVER () AS pid,
      CAST(floor(lat * 1000000.0) AS BIGINT) AS py,
      CAST(floor(lon * 1000000.0) AS BIGINT) AS px
      FROM ({pts_sql})),
hf_s AS (SELECT seed_id AS sid, w,
      CAST(floor(lat * 1000000.0) AS BIGINT) AS sy,
      CAST(floor(lon * 1000000.0) AS BIGINT) AS sx
      FROM ({seeds_sql})),
hf_q AS (SELECT p.pid, s.sid, s.w,
      (CAST(1000000000000000000 AS HUGEINT) * s.w)
      // ((p.px - s.sx) * (p.px - s.sx)
          + (p.py - s.sy) * (p.py - s.sy) + 1) AS q
      FROM hf_p p CROSS JOIN hf_s s),
hf_w AS (SELECT pid, sid, w, q,
      SUM(q) OVER (PARTITION BY pid) AS tot,
      (MIN({{'nq': -q, 'sid': sid}}) OVER (PARTITION BY pid)).sid
        AS top FROM hf_q)
SELECT sid AS seed_id, MAX(w) AS w,
       CAST(SUM(CASE WHEN top = sid THEN 1 ELSE 0 END) AS BIGINT)
         AS n_top,
       CAST(SUM(CASE WHEN tot = 0 THEN 0
                ELSE (1000000 * q) // tot END) AS BIGINT)
         AS share_ppm
FROM hf_w GROUP BY 1
"""


def bivariate_moran(cells, res: int, *, x_col: str, y_col: str,
                    cell_col: str = "cell"):
    """Global BIVARIATE Moran's I over two per-cell integer
    aggregates — "does x here predict y NEXT DOOR" (Anselin's
    bivariate Moran scatterplot, symmetric-kernel form): the spatial
    cross-correlation between, e.g., traffic volume and audience
    breadth. Same queen-contiguity weights and N^2-cancelled scaled
    deviations as moran_i (devx_i = N*x_i - Tx, devy likewise);
    S = sum over ordered neighbor pairs of devx_i * devy_j, which the
    symmetric weight matrix makes order-free.

    Integer-exactness vs headroom: the Pearson-style square
    N^2*S^2/(W^2*M2x*M2y) overflows DECIMAL(38,0) on real surfaces
    (S ~ 1e20 squares to 1e40), so the statistic is COMPOSED of two
    bounded truncating ratios — the two spatial-lag slopes

        lagx_ppm = (1e6 * N * S) div (W * M2x)   [y's lag on x]
        lagy_ppm = (1e6 * N * S) div (W * M2y)   [x's lag on y]

    and their ppm product bimoran2_ppm = sign(S) * (|lagx| * |lagy|)
    div 1e6 = the signed SQUARED bivariate Moran's I in ppm up to
    <= ~2 ppm of double-truncation (each slope is exact; only the
    recombination truncates twice). Every quantity is DECIMAL(38,0)/
    HUGEINT with division sign-decomposed so Spark's trunc-toward-
    zero and DuckDB's floor agree. NULL stats when W = 0 or either
    surface is constant (M2 = 0).

    Scale: identical shape to moran_i — all work on AGGREGATE rows:
    one broadcast 1-row stats join, a 9-way ring explode of |cells|,
    one cell-keyed join, two scalar aggs.
    -> one row (n_cells, w_pairs, lagx_ppm, lagy_ppm, bimoran2_ppm).
    """
    from pyspark.sql import functions as F

    from ..functions.cells import cell_neighbors_explode
    stats = cells.agg(F.count(F.lit(1)).alias("_nc"),
                      F.sum(x_col).alias("_tx"),
                      F.sum(y_col).alias("_ty"))
    d = (cells.crossJoin(F.broadcast(stats))
         .select(F.col(cell_col).alias("cell"),
                 (F.col("_nc") * F.col(x_col) - F.col("_tx"))
                 .alias("_devx"),
                 (F.col("_nc") * F.col(y_col) - F.col("_ty"))
                 .alias("_devy"), "_nc"))
    right = d.select(F.col("cell").alias("_neighbor"),
                     F.col("_devy").alias("_devy_j"))
    pairs = (cell_neighbors_explode(d.select("cell", "_devx"), res,
                                    ring=1)
             .filter(F.col("_neighbor") != F.col("cell"))
             .join(right, "_neighbor", "inner"))
    pr = pairs.agg(
        F.count(F.lit(1)).alias("w_pairs"),
        F.sum(F.col("_devx").cast("decimal(38,0)")
              * F.col("_devy_j").cast("decimal(38,0)")).alias("_s"))
    m = d.agg(F.max("_nc").alias("n_cells"),
              F.sum(F.col("_devx").cast("decimal(38,0)")
                    * F.col("_devx").cast("decimal(38,0)")).alias("_m2x"),
              F.sum(F.col("_devy").cast("decimal(38,0)")
                    * F.col("_devy").cast("decimal(38,0)")).alias("_m2y"))

    def slope(m2):
        return (f"CASE WHEN w_pairs = 0 OR {m2} = 0 THEN NULL ELSE "
                f"CAST((CAST(n_cells AS DECIMAL(38,0)) * _s * 1000000)"
                f" div (CAST(w_pairs AS DECIMAL(38,0)) * {m2}) "
                f"AS BIGINT) END")

    out = (m.crossJoin(pr)
           .withColumn("lagx_ppm", F.expr(slope("_m2x")))
           .withColumn("lagy_ppm", F.expr(slope("_m2y"))))
    sq = ("CASE WHEN lagx_ppm IS NULL OR lagy_ppm IS NULL THEN NULL "
          "ELSE (CASE WHEN _s >= 0 THEN 1 ELSE -1 END) * "
          "(abs(lagx_ppm) * abs(lagy_ppm) div 1000000) END")
    return out.select(
        F.col("n_cells").cast("long").alias("n_cells"),
        F.col("w_pairs").cast("long").alias("w_pairs"),
        "lagx_ppm", "lagy_ppm",
        F.expr(sq).cast("long").alias("bimoran2_ppm"))


def bivariate_moran_sql(cells_sql: str, res: int) -> str:
    """DuckDB twin of bivariate_moran over a subquery producing
    (cell, x, y) — HUGEINT products, floor division sign-decomposed
    to match Spark's truncation toward zero."""
    from ..functions.cells import cell_neighbors_sql
    nb = cell_neighbors_sql("a.cell", res, 1)
    num = "(st.nc * pr.s * 1000000)"

    def slope(m2):
        den = f"(pr.w * m.{m2})"
        return (f"CASE WHEN pr.w = 0 OR m.{m2} = 0 THEN NULL "
                f"WHEN {num} >= 0 THEN {num} // {den} "
                f"ELSE -((-{num}) // {den}) END")

    return f"""
WITH bm_cells AS ({cells_sql}),
st AS (SELECT COUNT(*) AS nc, CAST(SUM(x) AS BIGINT) AS tx,
              CAST(SUM(y) AS BIGINT) AS ty FROM bm_cells),
d AS (SELECT cell, CAST(st.nc * c.x - st.tx AS BIGINT) AS dx,
             CAST(st.nc * c.y - st.ty AS BIGINT) AS dy
      FROM bm_cells c, st),
pr AS (SELECT COUNT(b.cell) AS w,
       COALESCE(SUM(CAST(a.dx AS HUGEINT) * b.dy), 0) AS s
       FROM d a, LATERAL ({nb}) nb, d b
       WHERE nb.neighbor = b.cell AND nb.neighbor <> a.cell),
m AS (SELECT CAST(SUM(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS m2x,
             CAST(SUM(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS m2y
      FROM d),
sl AS (SELECT st.nc AS nc, pr.w AS w, pr.s AS s,
       CAST({slope('m2x')} AS BIGINT) AS lagx_ppm,
       CAST({slope('m2y')} AS BIGINT) AS lagy_ppm
       FROM st, pr, m)
SELECT CAST(nc AS BIGINT) AS n_cells, CAST(w AS BIGINT) AS w_pairs,
       lagx_ppm, lagy_ppm,
       CAST(CASE WHEN lagx_ppm IS NULL OR lagy_ppm IS NULL THEN NULL
            ELSE (CASE WHEN s >= 0 THEN 1 ELSE -1 END) *
                 (abs(lagx_ppm) * abs(lagy_ppm) // 1000000)
            END AS BIGINT) AS bimoran2_ppm
FROM sl
"""


# ---------------------------------------------------------------------------
# Spatial concentration (Lorenz) decile curve (r5.44)
# ---------------------------------------------------------------------------

def lorenz_cells(pts, res: int, *, lat_col: str = "lat",
                 lon_col: str = "lon", deciles: int = 10):
    """Traffic-concentration curve over the occupied cell raster —
    "the top i/10 of tiles carry X% of events", the capacity-planning
    TABLE behind cell_gini's scalar (a CDN places caches and a crawl
    scheduler shards frontiers off this curve, not off one
    inequality number). Cells rank by (count DESC, cell ASC); decile
    i reports the cumulative event share of the top ceil(i*C/D)
    cells:

        share_ppm = cum_events * 1e6 div T

    exact BIGINT floor, both boundaries integer (ceil via
    (i*C + D - 1) div D). With fewer cells than deciles, adjacent
    rows repeat the same cutoff — output is ALWAYS exactly
    ``deciles`` rows, so the frame is schema-stable for dashboards.

    Scale: one point-level cell-count shuffle is the only full-data
    pass; the rank/cumsum window and the decile join run on the
    bounded OCCUPIED-CELL frame (<= 4^res rows — the ks_stat
    grid-not-data argument). -> (pct, n_cells, cum_events,
    share_ppm), one row per decile."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    counts = (pts.select(cell_encode(lat_col, lon_col, res)
                         .alias("cell"))
              .groupBy("cell").agg(F.count(F.lit(1)).alias("_n")))
    w = Window.orderBy(F.col("_n").desc(), F.col("cell").asc())
    ranked = (counts
              .withColumn("_r", F.row_number().over(w))
              .withColumn("_cum", F.sum("_n").over(
                  w.rowsBetween(Window.unboundedPreceding, 0))))
    tot = counts.agg(F.count(F.lit(1)).alias("_c"),
                     F.sum("_n").alias("_t"))
    spark = pts.sparkSession
    dec = spark.range(1, deciles + 1).select(
        F.col("id").alias("_i"))
    cut = (dec.crossJoin(F.broadcast(tot))
           .withColumn("_cut", F.expr(
               f"(_i * _c + {deciles} - 1) div {deciles}")))
    return (cut.join(ranked, cut["_cut"] == ranked["_r"])
            .select(
                F.expr(f"CAST(_i * 100 div {deciles} AS INT)")
                .alias("pct"),
                F.col("_r").cast("long").alias("n_cells"),
                F.col("_cum").cast("long").alias("cum_events"),
                F.expr("(_cum * 1000000) div _t").cast("long")
                .alias("share_ppm")))


def lorenz_cells_sql(pts_sql: str, res: int, *,
                     deciles: int = 10) -> str:
    """DuckDB twin of lorenz_cells over a subquery producing
    (lat, lon) — same float cell grid text as the cell family, same
    integer cutoffs; all values nonnegative so floor == trunc."""
    n = 1 << res
    cell = (f"(CAST({res} AS BIGINT) << 56) "
            f"| (CAST(least(greatest(floor((lat + 90.0) / 180.0 "
            f"* {n}), 0), {n - 1}) AS BIGINT) << {res}) "
            f"| CAST(least(greatest(floor((lon + 180.0) / 360.0 "
            f"* {n}), 0), {n - 1}) AS BIGINT)")
    return f"""
WITH lz_c AS (SELECT {cell} AS cell, COUNT(*) AS cn
              FROM ({pts_sql}) GROUP BY 1),
lz_r AS (SELECT cell, cn,
         ROW_NUMBER() OVER (ORDER BY cn DESC, cell ASC) AS r,
         SUM(cn) OVER (ORDER BY cn DESC, cell ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         FROM lz_c),
lz_t AS (SELECT COUNT(*) AS c, SUM(cn) AS t FROM lz_c),
lz_d AS (SELECT unnest(range(1, {deciles + 1})) AS i)
SELECT CAST(i * 100 // {deciles} AS INTEGER) AS pct,
       CAST(r AS BIGINT) AS n_cells,
       CAST(cum AS BIGINT) AS cum_events,
       CAST((cum * 1000000) // t AS BIGINT) AS share_ppm
FROM lz_d, lz_t JOIN lz_r
ON lz_r.r = (i * c + {deciles} - 1) // {deciles}
"""


def focal_mode(points, res: int, *, label_col: str = "label",
               lat_col: str = "lat", lon_col: str = "lon"):
    """Majority (focal-mode) filter over the occupied raster — map
    algebra's categorical twin to cell_smooth's mean: every occupied
    cell reports the modal LABEL of its ring-1 Chebyshev
    neighborhood restricted to occupied cells (longitude wraps,
    latitude clamps, unoccupied cells are not support — the
    grid_reach obstacle convention), ties broken by smallest label.
    The declutter step before rendering a categorical tile layer
    (dominant land-use / dominant event type per tile) and the
    label-denoising pass before training on per-cell categories:
    isolated single-cell classes dissolve into their surroundings,
    integer-exact with no float kernel anywhere.

    Scale: ONE point-level (cell, label) groupBy is the only
    full-data shuffle; the 9x neighbor explode runs on the
    aggregate-sized (occupied-cell x label) frame, re-aggregates
    map-side-combinably onto the target cell, and the argmax is a
    cell-keyed window on that bounded frame. -> (cell, mode_label,
    n_mode, n_total, share_ppm) with share the modal label's weight
    in the neighborhood's point mass."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode, cell_neighbors_explode
    cnt = (points
           .select(cell_encode(lat_col, lon_col, res).alias("cell"),
                   F.col(label_col).alias("_lab"))
           .groupBy("cell", "_lab").agg(F.count(F.lit(1)).alias("_n")))
    occ = cnt.select("cell").distinct()
    contrib = (cell_neighbors_explode(cnt, res, ring=1)
               .select(F.col("_neighbor").alias("cell"), "_lab", "_n"))
    hood = (contrib.join(occ, "cell")
            .groupBy("cell", "_lab").agg(F.sum("_n").alias("_m")))
    w = ("(PARTITION BY cell ORDER BY _m DESC, _lab ASC)")
    ranked = (hood
              .withColumn("_r", F.expr(f"row_number() OVER {w}"))
              .withColumn("_t", F.expr(
                  "sum(_m) OVER (PARTITION BY cell)")))
    return (ranked.filter(F.col("_r") == 1)
            .select("cell",
                    F.col("_lab").alias("mode_label"),
                    F.col("_m").cast("long").alias("n_mode"),
                    F.col("_t").cast("long").alias("n_total"),
                    F.expr("(_m * 1000000) div _t").cast("long")
                    .alias("share_ppm")))


def focal_mode_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of focal_mode over a subquery producing
    (lat, lon, label) — same wrap/clamp adjacency as cell_smooth_sql,
    same tie order, same floor."""
    from ..functions.cells import cell_encode_sql
    n = 1 << res
    mask = n - 1
    cell = cell_encode_sql("lat", "lon", res)
    ax, bx = f"(a.cell & {mask})", f"(b.cell & {mask})"
    ay, by = (f"((a.cell >> {res}) & {mask})",
              f"((b.cell >> {res}) & {mask})")
    adj = (f"abs({ay} - {by}) <= 1 AND "
           f"least(abs({ax} - {bx}), {n} - abs({ax} - {bx})) <= 1")
    return f"""
WITH fm_c AS (SELECT cell, label, COUNT(*) AS n
              FROM (SELECT {cell} AS cell, label FROM ({pts_sql}))
              GROUP BY 1, 2),
fm_o AS (SELECT DISTINCT cell FROM fm_c),
fm_h AS (SELECT b.cell, a.label, SUM(a.n) AS m
         FROM fm_c a JOIN fm_o b ON {adj}
         GROUP BY 1, 2),
fm_r AS (SELECT cell, label, m,
         ROW_NUMBER() OVER (PARTITION BY cell
                            ORDER BY m DESC, label ASC) AS r,
         SUM(m) OVER (PARTITION BY cell) AS t
         FROM fm_h)
SELECT cell, label AS mode_label,
       CAST(m AS BIGINT) AS n_mode,
       CAST(t AS BIGINT) AS n_total,
       CAST((m * 1000000) // t AS BIGINT) AS share_ppm
FROM fm_r WHERE r = 1
"""


def cell_ewma(points, res: int, *, us_col: str = "us",
              lat_col: str = "lat", lon_col: str = "lon",
              day_us: int = 86_400_000_000, min_x: int = 5):
    """Per-cell EWMA control chart over the dense daily count series
    — "is today anomalous against an exponentially-forgetting
    baseline", the streaming-flavored complement to cell_anomaly's
    all-history z-score and cell_cusum's retrospective changepoint.
    Smoothing is the dyadic lambda = 1/2 recurrence s_t =
    (s_{t-1} + x_t) / 2 with s_1 = x_1, made integer-exact by the
    prefix-sum identity

        s_t = N_t / 2^t,   N_t = prefix_sum(w_i),
        w_1 = 2*x_1,  w_i = x_i * 2^(i-1)  (i >= 2)

    so the reported ewma = N_t div 2^t is an exact floor with NO
    per-step rounding drift, and the spike test "x_t >= 2 * s_{t-1}"
    clears denominators to the pure-BIGINT comparison
    3 * x_t * 2^(t-1) >= 2 * N_t. Headroom: the dyadic weights need
    span_days + log2(max daily count) <= 62 — a 30-day analysis
    window leaves 2^32 events/day/cell; longer calendars chunk by
    epoch (the EWMA forgets geometrically, so a 62-day-back term is
    already < 2^-60 of the state).

    Scale: rides _dense_daily_counts' one (cell, day) shuffle; the
    recurrence is ONE cell-keyed window cumsum over the dense
    aggregate frame — no iteration, no self-join (the reason for the
    prefix-sum identity: a naive recurrence is t chained steps).
    -> (cell, day, x, ewma, spike) over the full dense calendar;
    spike = 1 when x_t >= max(2*s_{t-1}, min_x), first day never
    spikes (no baseline)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None:
        return (filled.select(
            "cell", "day", F.col("n_events").alias("x"),
            F.col("n_events").alias("ewma"),
            F.lit(0).cast("long").alias("spike")).limit(0))
    w = (Window.partitionBy("cell").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    d = (filled
         .withColumn("_t", (F.col("day") - F.lit(lo) + 1)
                     .cast("int"))
         .withColumn("_w", F.expr(
             "n_events * shiftleft(CAST(1 AS BIGINT), _t - 1) "
             "* CASE WHEN _t = 1 THEN 2 ELSE 1 END"))
         .withColumn("_N", F.sum("_w").over(w)))
    return d.select(
        "cell", "day", F.col("n_events").cast("long").alias("x"),
        F.expr("_N div shiftleft(CAST(1 AS BIGINT), _t)")
        .cast("long").alias("ewma"),
        F.expr(f"CASE WHEN _t >= 2 AND n_events >= {int(min_x)} "
               f"AND 3 * n_events * shiftleft(CAST(1 AS BIGINT), "
               f"_t - 1) >= 2 * _N THEN 1 ELSE 0 END")
        .cast("long").alias("spike"))


def cell_ewma_sql(pts_sql: str, res: int, *,
                  day_us: int = 86_400_000_000,
                  min_x: int = 5) -> str:
    """DuckDB twin of cell_ewma — same dense prologue, same dyadic
    weights, same cleared-denominator spike test."""
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
ew_w AS (SELECT cell, day, n_events,
         CAST(day - lo + 1 AS INTEGER) AS t,
         n_events * (CAST(1 AS BIGINT) << CAST(day - lo AS INTEGER))
           * (CASE WHEN day = lo THEN 2 ELSE 1 END) AS w
         FROM filled, span),
ew_n AS (SELECT cell, day, n_events, t,
         SUM(w) OVER (PARTITION BY cell ORDER BY day
                      ROWS UNBOUNDED PRECEDING) AS nsum
         FROM ew_w)
SELECT cell, day, CAST(n_events AS BIGINT) AS x,
       CAST(nsum // (CAST(1 AS BIGINT) << t) AS BIGINT) AS ewma,
       CAST(CASE WHEN t >= 2 AND n_events >= {int(min_x)}
            AND 3 * n_events * (CAST(1 AS BIGINT) << (t - 1))
                >= 2 * nsum
            THEN 1 ELSE 0 END AS BIGINT) AS spike
FROM ew_n
"""


def median_center(points, res: int, *, lat_col: str = "lat",
                  lon_col: str = "lon"):
    """Per-cell L1 median center — the ROBUST middle of each tile's
    point cloud (coordinate-wise lower median) next to
    cell_centroids' outlier-dragged mean, plus the total absolute
    deviation around it: the exact objective the L1 center minimizes
    coordinate-wise, so tad_udeg is both a dispersion readout and a
    fit diagnostic (a bimodal tile reads a high TAD at any center).
    Coordinates enter as exact integer microdegrees
    (floor(x * 1e6) — floor of a shared IEEE double is engine-
    identical), medians are the (n+1) div 2-th order statistic, and

        tad_udeg = sum(|ulat - med_lat| + |ulon - med_lon|)

    is pure BIGINT. The robust-center shape a tiling service uses to
    place labels/anchors inside skewed tiles where the mean falls
    over water.

    Scale: exact per-cell order statistics need a cell-keyed sort —
    two row_number windows over the point frame (cell-parallel, no
    global funnel) — then medians join back point-side for the TAD
    sum; both shuffles key on cell, so AQE reuses the exchange. At
    production the same shape downgrades to percentile_approx when
    exactness isn't contractual. -> (cell, n_pts, med_lat_udeg,
    med_lon_udeg, tad_udeg)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    p = points.select(
        cell_encode(lat_col, lon_col, res).alias("cell"),
        F.floor(F.col(lat_col) * 1_000_000).cast("long").alias("ulat"),
        F.floor(F.col(lon_col) * 1_000_000).cast("long").alias("ulon"))
    d = (p.withColumn("_rl", F.expr(
            "row_number() OVER (PARTITION BY cell ORDER BY ulat)"))
         .withColumn("_rg", F.expr(
            "row_number() OVER (PARTITION BY cell ORDER BY ulon)"))
         .withColumn("_n", F.expr(
            "count(*) OVER (PARTITION BY cell)")))
    med = (d.groupBy("cell").agg(
        F.max("_n").cast("long").alias("n_pts"),
        F.max(F.when(F.col("_rl") == F.expr("(_n + 1) div 2"),
                     F.col("ulat"))).alias("med_lat_udeg"),
        F.max(F.when(F.col("_rg") == F.expr("(_n + 1) div 2"),
                     F.col("ulon"))).alias("med_lon_udeg")))
    tad = (p.join(med, "cell")
           .groupBy("cell")
           .agg(F.sum(F.abs(F.col("ulat") - F.col("med_lat_udeg"))
                      + F.abs(F.col("ulon") - F.col("med_lon_udeg")))
                .cast("long").alias("tad_udeg")))
    return med.join(tad, "cell")


def median_center_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of median_center over a subquery producing
    (lat, lon) — same microdegree floor, same order statistic."""
    from ..functions.cells import cell_encode_sql
    cell = cell_encode_sql("lat", "lon", res)
    return f"""
WITH mc_p AS (SELECT {cell} AS cell,
              CAST(floor(lat * 1000000) AS BIGINT) AS ulat,
              CAST(floor(lon * 1000000) AS BIGINT) AS ulon
              FROM ({pts_sql})),
mc_r AS (SELECT cell, ulat, ulon,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ulat) AS rl,
         ROW_NUMBER() OVER (PARTITION BY cell ORDER BY ulon) AS rg,
         COUNT(*) OVER (PARTITION BY cell) AS n
         FROM mc_p),
mc_m AS (SELECT cell, CAST(MAX(n) AS BIGINT) AS n_pts,
         MAX(CASE WHEN rl = (n + 1) // 2 THEN ulat END)
           AS med_lat_udeg,
         MAX(CASE WHEN rg = (n + 1) // 2 THEN ulon END)
           AS med_lon_udeg
         FROM mc_r GROUP BY 1),
mc_t AS (SELECT p.cell,
         CAST(SUM(ABS(p.ulat - m.med_lat_udeg)
                  + ABS(p.ulon - m.med_lon_udeg)) AS BIGINT)
           AS tad_udeg
         FROM mc_p p JOIN mc_m m ON p.cell = m.cell GROUP BY 1)
SELECT mc_m.cell, n_pts, med_lat_udeg, med_lon_udeg, tad_udeg
FROM mc_m JOIN mc_t ON mc_m.cell = mc_t.cell
"""


def rendezvous_shards(points, res: int, n_shards: int, *,
                      lat_col: str = "lat", lon_col: str = "lon"):
    """Rendezvous (highest-random-weight) shard placement audit over
    the occupied raster — the data-placement layer under the
    z-order/hilbert FILE layouts: every cell's owner is the shard
    with the largest md5(cell:shard) weight, so placement needs no
    directory, any node computes it, and — the property this audit
    exists to EVIDENCE — adding a shard moves only the cells the new
    shard wins (expected 1/(S+1) of them), never reshuffling the
    rest. Per shard under S = ``n_shards``: cell count, event load,
    load share, and exactly which of its cells an S+1-th shard would
    claim (moved_cells / moved_load_ppm — the reshard cost quote).
    Ties on the 60-bit weight break to the larger shard id in both
    engines (max struct order).

    Scale: ONE point-level cell shuffle; the placement explode is
    (S+1) rows per OCCUPIED cell (aggregate-sized) folding through
    two conditional struct-maxes into a shard-keyed agg — no joins.
    -> (shard, n_cells, load_events, load_ppm, moved_cells,
    moved_load_ppm)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    from .sketch import _hash64_spark
    s1 = int(n_shards) + 1
    cells = (points
             .select(cell_encode(lat_col, lon_col, res).alias("cell"))
             .groupBy("cell").agg(F.count(F.lit(1)).alias("_n")))
    h = _hash64_spark(
        "concat(cast(cell as string), ':', cast(_s as string))")
    owned = (cells
             .withColumn("_s", F.explode(F.expr(
                 f"sequence(0, {s1 - 1})")))
             .withColumn("_h", F.expr(h))
             .groupBy("cell", "_n")
             .agg(F.max(F.when(F.col("_s") < n_shards, F.struct(
                 F.col("_h").alias("h"), F.col("_s").alias("s"))))
                 .alias("_o"),
                 F.max(F.struct(F.col("_h").alias("h"),
                                F.col("_s").alias("s")))
                 .alias("_o1")))
    g = (owned.groupBy(F.col("_o.s").alias("shard"))
         .agg(F.count(F.lit(1)).alias("n_cells"),
              F.sum("_n").alias("load_events"),
              F.sum(F.expr(
                  "CASE WHEN _o1.s <> _o.s THEN 1 ELSE 0 END"))
              .alias("moved_cells"),
              F.sum(F.expr(
                  "CASE WHEN _o1.s <> _o.s THEN _n ELSE 0 END"))
              .alias("_moved_load")))
    return (g.withColumn("_tot", F.expr("sum(load_events) OVER ()"))
            .select(F.col("shard").cast("long"),
                    F.col("n_cells").cast("long"),
                    F.col("load_events").cast("long"),
                    F.expr("(load_events * 1000000) div _tot")
                    .cast("long").alias("load_ppm"),
                    F.col("moved_cells").cast("long"),
                    F.expr("CASE WHEN load_events = 0 THEN 0 ELSE "
                           "(_moved_load * 1000000) div load_events "
                           "END").cast("long")
                    .alias("moved_load_ppm")))


def rendezvous_shards_sql(pts_sql: str, res: int,
                          n_shards: int) -> str:
    """DuckDB twin of rendezvous_shards — same hash text, same
    struct-max tie order (argmax by (h, s) via window rank)."""
    from ..functions.cells import cell_encode_sql
    from .sketch import _hash64_duck
    s1 = int(n_shards) + 1
    cell = cell_encode_sql("lat", "lon", res)
    h = _hash64_duck(
        "concat(CAST(cell AS VARCHAR), ':', CAST(s AS VARCHAR))")
    return f"""
WITH rv_c AS (SELECT cell, COUNT(*) AS n FROM
              (SELECT {cell} AS cell FROM ({pts_sql})) GROUP BY 1),
rv_w AS (SELECT cell, n, s, {h} AS h
         FROM rv_c, (SELECT unnest(range(0, {s1})) AS s)),
rv_o AS (SELECT cell, n,
         MAX(CASE WHEN s < {int(n_shards)}
             THEN CAST(h AS HUGEINT) * {s1} + s END) AS o_key,
         MAX(CAST(h AS HUGEINT) * {s1} + s) AS o1_key
         FROM rv_w GROUP BY 1, 2),
rv_d AS (SELECT cell, n, CAST(o_key % {s1} AS BIGINT) AS o_s,
         CAST(o1_key % {s1} AS BIGINT) AS o1_s FROM rv_o),
rv_g AS (SELECT o_s AS shard, COUNT(*) AS n_cells,
         SUM(n) AS load_events,
         SUM(CASE WHEN o1_s <> o_s THEN 1 ELSE 0 END) AS moved_cells,
         SUM(CASE WHEN o1_s <> o_s THEN n ELSE 0 END) AS moved_load
         FROM rv_d GROUP BY 1)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(n_cells AS BIGINT) AS n_cells,
       CAST(load_events AS BIGINT) AS load_events,
       CAST((load_events * 1000000)
            // SUM(load_events) OVER () AS BIGINT) AS load_ppm,
       CAST(moved_cells AS BIGINT) AS moved_cells,
       CAST(CASE WHEN load_events = 0 THEN 0 ELSE
            (moved_load * 1000000) // load_events END AS BIGINT)
         AS moved_load_ppm
FROM rv_g
"""


def layout_locality(points, res: int, *, lat_col: str = "lat",
                    lon_col: str = "lon"):
    """Space-filling-curve locality audit — the measurement behind
    the zorder/hilbert layout choice instead of folklore: rank every
    occupied cell along each curve (rank = the file/row-group
    position a CLUSTER BY that key would give it), then for every
    rook-adjacent cell pair report the rank gap

        mean_gap_x1e6 = sum |rank_a - rank_b| * 1e6  div  n_pairs

    per layout ('morton', 'hilbert') plus the worst single seam
    (max_gap). Spatial neighbors far apart in rank = bbox queries
    touching that seam read scattered row groups. The audit exists
    precisely because folklore misleads here: Hilbert guarantees the
    FORWARD direction (rank-adjacent cells are always space-adjacent
    — ideal for sequential scans), but on this REVERSE metric (how
    far apart do space-neighbors land in rank — the row-group
    pruning question) a dense grid measures Morton TIGHTER on both
    total and worst seam (504 vs 568 total, 22 vs 53 max on the full
    8x8 — pinned by the replica test); which curve wins depends on
    occupancy shape, so an OPTIMIZE-style job should consult this
    table, not a rule of thumb. No wrap: file layout has no
    antimeridian. Keys come from the SAME zorder_key/hilbert_encode
    machinery the layout writers use, fed cell-center coordinates
    (which quantize back to the cell's own indices — 0.5-cell margin
    dwarfs double ulp on both engines).

    Scale: one point-level cell shuffle; ranks are two windows over
    the OCCUPIED frame (global-order windows, aggregate-sized by
    construction — the lorenz argument); neighbor pairs are two
    cell-arithmetic equi-joins of that frame with itself.
    -> (layout, n_pairs, total_gap, max_gap, mean_gap_x1e6)."""
    from pyspark.sql import functions as F

    from ..functions.cells import (cell_encode, hilbert_encode,
                                   zorder_key)
    n = 1 << res
    mask = n - 1
    cells = (points
             .select(cell_encode(lat_col, lon_col, res).alias("cell"))
             .groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
             .withColumn("_x", F.col("cell").bitwiseAND(F.lit(mask)))
             .withColumn("_y", F.shiftright("cell", res)
                         .bitwiseAND(F.lit(mask)))
             .withColumn("clat", (F.col("_y") + 0.5)
                         * (180.0 / n) - 90.0)
             .withColumn("clon", (F.col("_x") + 0.5)
                         * (360.0 / n) - 180.0))
    keyed = (hilbert_encode(
        cells.withColumn("zkey", zorder_key("clat", "clon", res)),
        "clat", "clon", order=res)
        .withColumn("rz", F.expr(
            "row_number() OVER (ORDER BY zkey)"))
        .withColumn("rh", F.expr(
            "row_number() OVER (ORDER BY hkey)"))
        .select("cell", "_x", "_y", "rz", "rh"))
    a = keyed
    right = keyed.select((F.col("cell") + 1).alias("cell"),
                         F.col("rz").alias("rz2"),
                         F.col("rh").alias("rh2"),
                         F.col("_x").alias("_xb"))
    up = keyed.select((F.col("cell") + n).alias("cell"),
                      F.col("rz").alias("rz2"),
                      F.col("rh").alias("rh2"),
                      F.lit(None).cast("long").alias("_xb"))
    pairs = (a.join(right, "cell")
             .filter(F.col("_xb") < mask)  # b was at x < n-1: no wrap
             .select("rz", "rh", "rz2", "rh2")
             .unionByName(a.join(up, "cell")
                          .select("rz", "rh", "rz2", "rh2")))
    g = pairs.select(F.explode(F.array(
        F.struct(F.lit("morton").alias("layout"),
                 F.abs(F.col("rz") - F.col("rz2")).alias("gap")),
        F.struct(F.lit("hilbert").alias("layout"),
                 F.abs(F.col("rh") - F.col("rh2")).alias("gap"))))
        .alias("_e")).select("_e.layout", "_e.gap")
    return (g.groupBy("layout")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum("gap").alias("total_gap"),
                 F.max("gap").alias("max_gap"))
            .select("layout", F.col("n_pairs").cast("long"),
                    F.col("total_gap").cast("long"),
                    F.col("max_gap").cast("long"),
                    F.expr("(total_gap * 1000000) div n_pairs")
                    .cast("long").alias("mean_gap_x1e6")))


def layout_locality_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of layout_locality — same center quantization,
    same zorder_key_sql / hilbert_sql keys, same no-wrap pairs."""
    from ..functions.cells import (cell_encode_sql, hilbert_sql,
                                   zorder_key_sql)
    n = 1 << res
    mask = n - 1
    cell = cell_encode_sql("lat", "lon", res)
    base = f"""SELECT cell, cell & {mask} AS x,
       (cell >> {res}) & {mask} AS y,
       ((cell >> {res}) & {mask}) * {180.0 / n} + {0.5 * 180.0 / n} - 90.0 AS clat,
       (cell & {mask}) * {360.0 / n} + {0.5 * 360.0 / n} - 180.0 AS clon,
       {zorder_key_sql('((cell >> ' + str(res) + ') & ' + str(mask) + ') * ' + str(180.0 / n) + ' + ' + str(0.5 * 180.0 / n) + ' - 90.0',
                       '(cell & ' + str(mask) + ') * ' + str(360.0 / n) + ' + ' + str(0.5 * 360.0 / n) + ' - 180.0', res)} AS zkey
FROM (SELECT cell FROM (SELECT {cell} AS cell FROM ({pts_sql}))
      GROUP BY 1)"""
    hil = hilbert_sql("clat", "clon", base, order=res)
    return f"""
WITH ll_k AS (SELECT cell, x, y,
              ROW_NUMBER() OVER (ORDER BY zkey) AS rz,
              ROW_NUMBER() OVER (ORDER BY hkey) AS rh
              FROM ({hil})),
ll_p AS (SELECT a.rz, a.rh, b.rz AS rz2, b.rh AS rh2
         FROM ll_k a JOIN ll_k b
         ON b.cell = a.cell + 1 AND a.x < {mask}
         UNION ALL
         SELECT a.rz, a.rh, b.rz, b.rh
         FROM ll_k a JOIN ll_k b ON b.cell = a.cell + {n}),
ll_g AS (SELECT 'morton' AS layout, abs(rz - rz2) AS gap FROM ll_p
         UNION ALL
         SELECT 'hilbert', abs(rh - rh2) FROM ll_p)
SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(gap) AS BIGINT) AS total_gap,
       CAST(MAX(gap) AS BIGINT) AS max_gap,
       CAST((SUM(gap) * 1000000) // COUNT(*) AS BIGINT)
         AS mean_gap_x1e6
FROM ll_g GROUP BY 1
"""


def cell_backtest(points, res: int, *, season: int = 7,
                  us_col: str = "us", lat_col: str = "lat",
                  lon_col: str = "lon",
                  day_us: int = 86_400_000_000):
    """Per-cell forecast backtest — "is this tile's traffic
    predictable, and does weekly seasonality help": over the dense
    daily calendar, score the seasonal-naive forecast (x_hat_t =
    x_{t-season}) against the persistence baseline (x_hat_t =
    x_{t-1}) on the SAME scored days (t > season, so both models
    forecast every scored day), reporting exact integer absolute
    error sums and

        skill_ppm = mae_season_sum * 1e6 div mae_naive_sum

    (< 1e6 = seasonality beats persistence; NULL when the baseline
    is perfect). The model-selection table a forecasting pipeline
    consults per REGION before fitting anything heavier — and the
    honest-evaluation shape (fixed-origin backtest, shared scored
    set) that cell_trend/cell_theil_sen's fit statistics don't give.
    Zero-filled gap days are load-bearing: a model that never sees
    quiet days scores fantasy errors.

    Scale: rides _dense_daily_counts' one (cell, day) shuffle; both
    forecasts are lag windows over the dense AGGREGATE frame and the
    scores one combinable agg. -> (cell, n_scored, err_season,
    err_naive, skill_ppm)."""
    from pyspark.sql import functions as F
    filled, lo, hi = _dense_daily_counts(
        points, res, us_col=us_col, lat_col=lat_col, lon_col=lon_col,
        day_us=day_us)
    if lo is None or hi - lo < season:
        return (filled.select(
            "cell", F.lit(0).cast("long").alias("n_scored"),
            F.lit(0).cast("long").alias("err_season"),
            F.lit(0).cast("long").alias("err_naive"),
            F.lit(None).cast("long").alias("skill_ppm")).limit(0))
    w = "(PARTITION BY cell ORDER BY day)"
    d = (filled
         .withColumn("_ps", F.expr(
             f"lag(n_events, {int(season)}) OVER {w}"))
         .withColumn("_p1", F.expr(f"lag(n_events, 1) OVER {w}"))
         .filter(F.col("_ps").isNotNull()))
    return (d.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("n_scored"),
                 F.sum(F.abs(F.col("n_events") - F.col("_ps")))
                 .alias("err_season"),
                 F.sum(F.abs(F.col("n_events") - F.col("_p1")))
                 .alias("err_naive"))
            .select("cell", F.col("n_scored").cast("long"),
                    F.col("err_season").cast("long"),
                    F.col("err_naive").cast("long"),
                    F.expr("CASE WHEN err_naive = 0 THEN NULL ELSE "
                           "(err_season * 1000000) div err_naive "
                           "END").cast("long").alias("skill_ppm")))


def cell_backtest_sql(pts_sql: str, res: int, *, season: int = 7,
                      day_us: int = 86_400_000_000) -> str:
    """DuckDB twin of cell_backtest — same dense prologue, same
    shared scored set, same floors."""
    return f"""
WITH {_dense_daily_counts_sql(pts_sql, res, day_us)},
bt_l AS (SELECT cell, day, n_events,
         LAG(n_events, {int(season)}) OVER w AS ps,
         LAG(n_events, 1) OVER w AS p1
         FROM filled
         WINDOW w AS (PARTITION BY cell ORDER BY day)),
bt_g AS (SELECT cell, COUNT(*) AS n_scored,
         SUM(ABS(n_events - ps)) AS err_season,
         SUM(ABS(n_events - p1)) AS err_naive
         FROM bt_l WHERE ps IS NOT NULL GROUP BY 1)
SELECT cell, CAST(n_scored AS BIGINT) AS n_scored,
       CAST(err_season AS BIGINT) AS err_season,
       CAST(err_naive AS BIGINT) AS err_naive,
       CAST(CASE WHEN err_naive = 0 THEN NULL ELSE
            (err_season * 1000000) // err_naive END AS BIGINT)
         AS skill_ppm
FROM bt_g
"""


def aniso_variogram(tiles, res: int, lags_cells, *,
                    cell_col: str = "cell",
                    count_col: str = "n_docs",
                    parent_steps: int | None = None):
    """Directional (anisotropic) semivariogram — does spatial
    correlation have a GRAIN: the same half-open distance shells as
    semivariogram, split into three integer angular sectors by the
    2:1 rule (no trig, no tolerance parameter drift):

        'ew'   when 2*|dy| <= |dx|      (within ~26.6 deg of E-W)
        'ns'   when 2*|dx| <= |dy|
        'diag' otherwise

    — gamma rising faster N-S than E-W is the coast/valley/corridor
    signature that tells a kriging or smoothing step to stretch its
    kernel, and tells the layout tier which axis to favor. Every
    (sector, lag) rung is emitted even when empty (n_pairs = 0,
    gamma NULL — measured, not skipped: the semivariogram
    convention), so the frame is schema-stable at 3 x |lags| rows.

    Scale: rides _vario_pair_frame — the SAME parent-blocked
    aggregate pair join as the isotropic operator (extracted shared
    builder, zero drift), plus one (sector, shell) combinable agg
    and a literal-grid left join. -> (sector, lag_cells, n_pairs,
    gamma_ppm)."""
    from pyspark.sql import functions as F

    lags = sorted(int(v) for v in lags_cells)
    maxlag = lags[-1]
    if parent_steps is None:
        parent_steps = max(1, (maxlag - 1).bit_length())
    if maxlag > (1 << parent_steps):
        raise ValueError("max lag exceeds one parent step")
    pairs = _vario_pair_frame(tiles, res, parent_steps, maxlag,
                              cell_col=cell_col, count_col=count_col)
    sector = ("CASE WHEN 2 * _ady <= _adx THEN 'ew' "
              "WHEN 2 * _adx <= _ady THEN 'ns' ELSE 'diag' END")
    prev = [0] + lags[:-1]
    shell = " ".join(
        f"WHEN _d2 > {lo * lo} AND _d2 <= {hi * hi} THEN {hi}"
        for lo, hi in zip(prev, lags))
    g = (pairs
         .withColumn("_sec", F.expr(sector))
         .withColumn("_lag", F.expr(f"CASE {shell} END"))
         .groupBy("_sec", "_lag")
         .agg(F.count(F.lit(1)).alias("_n"),
              F.sum("_sq").alias("_s")))
    spark = tiles.sparkSession
    grid = (spark.createDataFrame(
        [(s, lag) for s in ("ew", "ns", "diag") for lag in lags],
        "sector string, lag_cells long"))
    return (grid.join(g, (grid["sector"] == g["_sec"])
                      & (grid["lag_cells"] == g["_lag"]), "left")
            .select("sector", "lag_cells",
                    F.coalesce(F.col("_n"), F.lit(0)).cast("long")
                    .alias("n_pairs"),
                    F.expr("CASE WHEN _n > 0 THEN "
                           "CAST(_s * 1000000 div (2 * _n) "
                           "AS BIGINT) END").alias("gamma_ppm")))


def aniso_variogram_sql(counts_sql: str, res: int, lags_cells, *,
                        count_col: str = "n_docs") -> str:
    """DuckDB twin of aniso_variogram — semivariogram_sql's
    brute-force pair frame plus the same 2:1 sector CASE and the
    literal (sector, lag) grid left join."""
    lags = sorted(int(v) for v in lags_cells)
    maxlag = lags[-1]
    n = 1 << res
    mask = n - 1
    prev = [0] + lags[:-1]
    shell = " ".join(
        f"WHEN d2 > {lo * lo} AND d2 <= {hi * hi} THEN {hi}"
        for lo, hi in zip(prev, lags))
    lagrows = ", ".join(str(v) for v in lags)
    return f"""
WITH av_c AS (SELECT cell, CAST({count_col} AS BIGINT) AS v,
              (cell & {mask}) AS x, ((cell // {n}) & {mask}) AS y
              FROM ({counts_sql})),
av_p AS (SELECT
    least(abs(a.x - b.x), {n} - abs(a.x - b.x))
      * least(abs(a.x - b.x), {n} - abs(a.x - b.x))
      + (a.y - b.y) * (a.y - b.y) AS d2,
    CAST((a.v - b.v) * (a.v - b.v) AS HUGEINT) AS sq,
    least(abs(a.x - b.x), {n} - abs(a.x - b.x)) AS adx,
    abs(a.y - b.y) AS ady
    FROM av_c a JOIN av_c b ON a.cell < b.cell
    WHERE least(abs(a.x - b.x), {n} - abs(a.x - b.x))
          * least(abs(a.x - b.x), {n} - abs(a.x - b.x))
          + (a.y - b.y) * (a.y - b.y) <= {maxlag * maxlag}),
av_g AS (SELECT CASE WHEN 2 * ady <= adx THEN 'ew'
                WHEN 2 * adx <= ady THEN 'ns' ELSE 'diag' END AS sec,
         CASE {shell} END AS lag, COUNT(*) AS np, SUM(sq) AS s
         FROM av_p GROUP BY 1, 2),
av_l AS (SELECT sec AS sector, unnest([{lagrows}]) AS lag_cells
         FROM (SELECT unnest(['ew', 'ns', 'diag']) AS sec))
SELECT l.sector, CAST(l.lag_cells AS BIGINT) AS lag_cells,
       CAST(COALESCE(g.np, 0) AS BIGINT) AS n_pairs,
       CAST(CASE WHEN g.np > 0 THEN g.s * 1000000 // (2 * g.np)
            END AS BIGINT) AS gamma_ppm
FROM av_l l LEFT JOIN av_g g
ON l.sector = g.sec AND l.lag_cells = g.lag
"""


def _zone_area_rows(res: int) -> list:
    """Literal spherical-zone cell areas per latitude row — ONE
    Python source emitting integer literals for both engines (the
    diurnal trig-table convention, so no engine ever calls trig):
    row y at resolution ``res`` spans lat [y*180/n - 90, ...+180/n];
    one lon-cell's area on the R=6371 km sphere is
    R^2 * (sin lat1 - sin lat0) * (2 pi / n), emitted as
    (y, area_km2 * 1000) rounded once, here, identically for
    Spark and DuckDB."""
    import math
    n = 1 << res
    r2 = 6371.0088 ** 2
    out = []
    for y in range(n):
        la0 = math.radians(y * 180.0 / n - 90.0)
        la1 = math.radians((y + 1) * 180.0 / n - 90.0)
        area = r2 * (math.sin(la1) - math.sin(la0)) * (2 * math.pi / n)
        out.append((y, int(round(area * 1000))))
    return out


def cell_density(points, res: int, *, lat_col: str = "lat",
                 lon_col: str = "lon"):
    """Equal-area-corrected event density — events per km², the
    geodesy fix every raw lat/lon raster silently needs: a res-cell
    at lat 60 covers HALF the ground of an equatorial one, so raw
    counts systematically overstate high-latitude intensity. Cell
    areas come from the literal spherical-zone table
    (_zone_area_rows — one Python source, both engines, no trig in
    either plan) and

        dens_x1e6 = n_events * 1e9  div  area_km2_x1000

    is an exact integer floor (events per km², scaled 1e6). The
    ranking flips this correction causes (a modest polar cell
    out-densifying a busy equatorial one) is the whole point — raw
    hotspot tables lie toward the equator.

    Scale: ONE point-level cell shuffle; the area join is a
    2^res-row literal broadcast. -> (cell, n_events,
    area_km2_x1000, dens_x1e6)."""
    from pyspark.sql import functions as F

    from ..functions.cells import cell_encode
    n = 1 << res
    mask = n - 1
    spark = points.sparkSession
    areas = spark.createDataFrame(_zone_area_rows(res),
                                  "y long, area_km2_x1000 long")
    cnt = (points
           .select(cell_encode(lat_col, lon_col, res).alias("cell"))
           .groupBy("cell").agg(F.count(F.lit(1)).alias("n_events"))
           .withColumn("y", F.shiftright("cell", res)
                       .bitwiseAND(F.lit(mask))))
    return (cnt.join(F.broadcast(areas), "y")
            .select("cell", F.col("n_events").cast("long"),
                    F.col("area_km2_x1000").cast("long"),
                    F.expr("CAST(n_events AS DECIMAL(38,0)) "
                           "* 1000000000 div area_km2_x1000")
                    .cast("long").alias("dens_x1e6")))


def cell_density_sql(pts_sql: str, res: int) -> str:
    """DuckDB twin of cell_density — the SAME literal zone table as
    VALUES rows, same floor."""
    from ..functions.cells import cell_encode_sql
    n = 1 << res
    mask = n - 1
    cell = cell_encode_sql("lat", "lon", res)
    vals = ", ".join(f"({y}, {a})" for y, a in _zone_area_rows(res))
    return f"""
WITH cd_a (y, area_km2_x1000) AS (VALUES {vals}),
cd_c AS (SELECT cell, COUNT(*) AS n_events,
         (cell >> {res}) & {mask} AS y
         FROM (SELECT {cell} AS cell FROM ({pts_sql})) GROUP BY 1)
SELECT cell, CAST(n_events AS BIGINT) AS n_events,
       CAST(area_km2_x1000 AS BIGINT) AS area_km2_x1000,
       CAST(CAST(n_events AS HUGEINT) * 1000000000
            // area_km2_x1000 AS BIGINT) AS dens_x1e6
FROM cd_c JOIN cd_a USING (y)
"""
